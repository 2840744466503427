"""Layout segmentation kernel (reference G1-G20, recast 2-D -> 1-D).

The reference segments a page image into text lines via connected
components, column separators, and seed propagation
(``/root/reference/ocropus-gpageseg:348-375`` ``compute_segmentation``).
Here the "page" is a turn payload (HTML-ish markup or PDF-extracted
layout text) and the analog structures are:

  * connected components   -> contiguous visible-text runs ("blocks")
  * column/line separators  -> block-level tags, ``<hr>``, ASCII rule
    lines, blank-line runs, form feeds (G6/G7 analog)
  * hline removal (P4)      -> separator/rule lines are boundaries, never content
  * speckle removal (P5)    -> blocks shorter than ``noise_min_chars`` are
    labeled ``noise`` downstream (``ocrolib/common.py:861-869``)
  * mask join (G8/J5)       -> ``forced_boundaries`` offsets split blocks
    (``ocropus-gpageseg:268-276``). As in the reference, the join is
    applied inside the one segmentation pass: the offsets are sorted and
    walked by a cursor in the same tokenizer loop that serves unmasked
    payloads (an int sentinel stands in when there are none)
  * reading order (O1/O3)   -> blocks emitted in payload position order,
    ids dense 0..n-1 per payload (``psegutils.py:127-164``,
    ``morph.py:229-246``)

Every block carries its raw character extent ``[start, end)`` into the
original payload — these become the output ``spans``.

The tokenizer is one C function, ``tokenize`` in ``_segment.c`` (built on
first import by ``kernels.cbuild``; the reference is likewise per-page
imperative inside ``multiprocessing`` workers). It walks every payload
of a batch once over its code points, so extents are ``str`` offsets,
and fills the block columns directly: ``segment_batch`` wraps them as
one ``BlockTable`` (struct-of-arrays, ``visible`` an Arrow string array
over the extension's UTF-8 buffer) for the vectorized classify and
reassemble phases; ``segment_payload`` is the one-payload ``Block`` view
of it. Entity decoding is ``html.unescape``, called only on the text
pieces that contain ``&``.

One rule set covers markup and plain text: a payload without tags (e.g.
PDF-extracted ``tool`` layout text) is one text run, split at form
feeds, blank-line runs and ASCII rules.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from dup_ocropy_spark.kernels.cbuild import load_extension

_ext = load_extension("_segment")
# kind codes of the extension -> enclosing block element name or 'text'
_KIND_NAMES = np.array(_ext.KIND_NAMES, dtype=object)


# Structural separators inside text runs: form feed, blank-line run,
# ASCII rule line of 4+ -=_* chars (G6/G7 analog). The tokenizer splits
# each text piece at these under Python's re.M semantics (tests check it
# against ``re``). Exported pattern STRING: the DuckDB oracle twins
# derive their block splitter from this same literal (single source of
# truth, like functions/text.normalize_sql). Known dialect edge: RE2's
# (?m)^ anchors after \f, Python's re.M does not — a rule line
# IMMEDIATELY after a form feed is visible text here but a separator
# there (absent from the synthetic grammars; documented at the oracle).
PLAIN_SEP_PATTERN = r"\f+|\n[ \t]*\n(?:[ \t]*\n)*|^[ \t]*[-=_*]{4,}[ \t]*$\n?"
# also exported for the oracle twins: blocks whose stripped text matches
# are rule lines and are dropped
RULE_BLOCK_PATTERN = r"^[-=_* \t]*[-=_*]{4,}[-=_* \t]*$"


@dataclass(slots=True)
class Block:
    """One block of a single payload, as ``segment_payload`` returns it:
    a contiguous visible-text run with its raw payload extent."""

    start: int            # raw char offset, inclusive
    end: int              # raw char offset, exclusive
    visible: str          # tag-stripped, entity-decoded text
    kind: str = "text"    # enclosing block element name or 'text'
    link_chars: int = 0   # visible chars inside <a> (link-density feature)
    boiler: bool = False  # inside a boilerplate container
    block_id: int = -1    # dense document-order id


@dataclass(slots=True)
class BlockTable:
    """Every block of a batch of payloads as one struct-of-arrays, in
    (row, payload position) order. ``row`` indexes the batch; ``block_id``
    is the dense document-order id within its row. ``label`` (codes in
    ``kernels.classify``) and ``score`` are filled by ``classify_blocks``."""

    row: np.ndarray         # int64
    start: np.ndarray       # int64 raw char offset, inclusive
    end: np.ndarray         # int64 raw char offset, exclusive
    visible: pa.StringArray
    kind: np.ndarray        # object: enclosing block element name or 'text'
    link_chars: np.ndarray  # int64
    boiler: np.ndarray      # bool
    block_id: np.ndarray    # int64
    label: np.ndarray | None = None
    score: np.ndarray | None = None

    def __len__(self) -> int:
        return len(self.row)

    def take(self, keep: np.ndarray) -> BlockTable:
        """The blocks where ``keep`` (bool mask) is set; unclassified."""
        return BlockTable(self.row[keep], self.start[keep], self.end[keep],
                          self.visible.filter(pa.array(keep)), self.kind[keep],
                          self.link_chars[keep], self.boiler[keep],
                          self.block_id[keep])


def segment_batch(payloads: list[str],
                  forced_boundaries: list[list[int] | None] | None = None
                  ) -> BlockTable:
    """Segment a batch of payloads into one ``BlockTable``; the blocks of
    ``payloads[i]`` carry ``row == i``, in payload order.

    Tags are matched like a left-to-right regex scan: comments, CDATA,
    and start/end tags whose quoted attribute values may hold ``>``.
    Visible runs between tags add to the pending block; block-level tags,
    separators inside a run (``PLAIN_SEP_PATTERN``, each run taken as its
    own string) and ``forced_boundaries`` (the mask join, G8/J5) flush it.
    ``<script>``/``<style>`` text is opaque up to the matching close tag;
    text inside boilerplate containers is ``boiler`` and text inside
    ``<a>`` counts as ``link_chars`` (a self-closing ``<a/>``, or a
    trailing ``/`` after a quote or whitespace, opens nothing). A flushed
    block whose stripped text is empty or a rule line is dropped; the
    others keep their raw extent trimmed of ``str.isspace`` whitespace.
    Blocks come out in reading order (O1/O3/G16: payload position), so
    ids are dense 0..n-1 per row.
    """
    row, start, end, link_chars, kind, boiler, offsets, data = _ext.tokenize(
        payloads, forced_boundaries)
    row = np.frombuffer(row, dtype=np.int64)
    counts = np.bincount(row, minlength=len(payloads))
    firsts = np.cumsum(counts) - counts
    return BlockTable(
        row=row,
        start=np.frombuffer(start, dtype=np.int64),
        end=np.frombuffer(end, dtype=np.int64),
        visible=pa.StringArray.from_buffers(len(row), pa.py_buffer(offsets),
                                            pa.py_buffer(data)),
        kind=_KIND_NAMES[np.frombuffer(kind, dtype=np.uint8)],
        link_chars=np.frombuffer(link_chars, dtype=np.int64),
        boiler=np.frombuffer(boiler, dtype=bool),
        block_id=np.arange(len(row), dtype=np.int64) - np.repeat(firsts, counts),
    )


def segment_payload(payload: str, forced_boundaries: list[int] | None = None) -> list[Block]:
    """Segment one payload into document-ordered ``Block``s: the
    single-payload view of ``segment_batch``."""
    t = segment_batch([payload], [forced_boundaries])
    return [Block(*fields) for fields in zip(
        t.start.tolist(), t.end.tolist(), t.visible.to_pylist(), t.kind.tolist(),
        t.link_chars.tolist(), t.boiler.tolist(), t.block_id.tolist())]
