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

The tokenizer is pure Python/regex over one payload (the reference is
likewise per-page imperative inside ``multiprocessing`` workers).
``segment_batch`` runs it over every payload of an Arrow batch and
returns one ``BlockTable`` (struct-of-arrays) for the vectorized classify
and reassemble phases; ``segment_payload`` is the one-payload ``Block``
view of it.
"""

from __future__ import annotations

import html as _html
import re
from dataclasses import dataclass
from itertools import chain

import numpy as np
import pyarrow as pa


# Tags that terminate the current block (line-separator analogs).
BLOCK_TAGS = frozenset(
    """p div li ul ol dl dt dd h1 h2 h3 h4 h5 h6 br hr table thead tbody tr td th
    blockquote pre section article main header footer nav aside form fieldset
    figure figcaption address title head body html script style noscript select
    option button textarea iframe""".split()
)

# Containers whose visible text is page furniture (boilerplate).
BOILER_CONTAINERS = frozenset(
    """nav footer aside header form script style noscript select option button
    textarea iframe head title""".split()
)

# Raw-content elements: everything up to the matching close tag is opaque.
RAW_TEXT_TAGS = frozenset(("script", "style"))

_TAG_RE = re.compile(
    r"<!--.*?-->|<!\[CDATA\[.*?\]\]>|<(/?)([a-zA-Z][a-zA-Z0-9-]*)"
    r"((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)(/?)>",
    re.S,
)
_HAS_MARKUP_RE = re.compile(r"<[a-zA-Z/!][^>]*>")
# Structural separators inside text runs: form feed, blank-line run,
# ASCII rule line of 4+ -=_* chars (G6/G7 analog).
# exported pattern STRING: the DuckDB oracle twins derive their block
# splitter from this same literal (single source of truth, like
# functions/text.normalize_sql). Known dialect edge: RE2's (?m)^ anchors
# after \f, Python's re.M does not — a rule line IMMEDIATELY after a
# form feed is visible text here but a separator there (absent from the
# synthetic grammars; documented at the oracle).
PLAIN_SEP_PATTERN = r"\f+|\n[ \t]*\n(?:[ \t]*\n)*|^[ \t]*[-=_*]{4,}[ \t]*$\n?"
_PLAIN_SEP_RE = re.compile(PLAIN_SEP_PATTERN, re.M)
# also exported for the oracle twins (post-segmentation rule-block drop)
RULE_BLOCK_PATTERN = r"^[-=_* \t]*[-=_*]{4,}[-=_* \t]*$"
_RULE_LINE_RE = re.compile(RULE_BLOCK_PATTERN)
# allocation-free guard: a text piece could start a rule line
_LEAD_RULE_RE = re.compile(r"[ \t]*[-=_*]")


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


# cursor sentinel past every payload offset: an int, so the unmasked
# case pays plain int compares per text run
_NO_BOUNDARY = 1 << 62
# zero-width match at the payload end with _TAG_RE's four groups (none
# participate): closes the trailing text run through the tag-loop body
_END_RE = re.compile(r"\Z(/)?(/)?(/)?(/)?")


def _segment_html(payload: str, forced: list[int] | None, row: int,
                  out: list[tuple]) -> None:
    """Tokenize markup into blocks, appended to ``out`` as (row, start,
    end, visible, kind, link_chars, boiler) tuples. Visible text runs
    between tags accumulate into the pending block; block-level tags,
    plain separators inside a run and forced boundaries flush it (the
    seed-propagation analog: every visible run between two separators is
    one region)."""
    n = len(payload)
    bounds = sorted(set(forced)) + [_NO_BOUNDARY] if forced else [_NO_BOUNDARY]
    bi = 0
    nxt = bounds[0]           # next forced boundary not yet applied
    append = out.append
    rule_match = _RULE_LINE_RE.match
    # pending pieces: (start, end, decoded_text, link_chars, boiler)
    segs: list[tuple[int, int, str, int, bool]] = []
    seg_kind = "text"
    pos = 0
    a_depth = 0
    raw_until: str | None = None  # inside <script>/<style>
    kind = "text"
    boiler_stack: list[str] = []
    unescape = _html.unescape
    lead_rule_match = _LEAD_RULE_RE.match
    sep_finditer = _PLAIN_SEP_RE.finditer

    def flush() -> None:
        if len(segs) == 1:  # most inter-separator runs are one piece
            s, e, visible, link_chars, boiler = segs[0]
        else:
            s = segs[0][0]
            e = segs[-1][1]
            visible = "".join(t[2] for t in segs)
            link_chars = sum(t[3] for t in segs)
            boiler = any(t[4] for t in segs)
        segs.clear()
        stripped = visible.strip()
        # blank runs and rule-only blocks (hline removal, P4) are
        # separators, not blocks
        if not stripped or (stripped[0] in "-=_*" and rule_match(stripped)):
            return
        # tight raw extent: C-level strips, the same whitespace set as
        # str.isspace (content at payload start/end keeps 0 / len)
        raw = payload[s:e]
        lead = raw.lstrip()
        append((row, s + len(raw) - len(lead), e - len(lead) + len(lead.rstrip()),
                visible, seg_kind, link_chars, boiler))

    for m in chain(_TAG_RE.finditer(payload), (_END_RE.match(payload, n),)):
        closing_s, name, attrs_s, selfclose_s = m.groups()
        mstart, mend = m.span()
        if raw_until is not None and mstart < n:
            # inside a raw-text element: only the matching close tag ends
            # it (an unclosed one still yields its trailing text)
            if closing_s == "/" and (name or "").lower() == raw_until:
                if raw_until in boiler_stack:
                    boiler_stack.remove(raw_until)
                raw_until = None
            pos = mend
            continue
        if mstart > pos:
            # mask join: a forced boundary at the run start or anywhere in
            # the markup gap since the previous run flushes the pending block
            if nxt <= pos:
                if segs:
                    flush()
                while nxt <= pos:
                    bi += 1
                    nxt = bounds[bi]
            in_link = a_depth > 0
            boiler = bool(boiler_stack)
            while True:
                # interior forced boundaries cut the run into pieces; each
                # piece is separator-split as its own string (^/$ of
                # PLAIN_SEP_PATTERN anchor at piece edges)
                e = nxt if nxt < mstart else mstart
                text = payload[pos:e]
                # every separator needs \n, \f or a whole-piece rule line;
                # the first-char guard skips the regex for the common
                # letter-initial run
                if "\n" in text or "\f" in text or (
                        text[0] in "-=_* \t"
                        and lead_rule_match(text) is not None):
                    last = 0
                    for mm in sep_finditer(text):
                        ms = mm.start()
                        if ms > last:
                            piece = text[last:ms]
                            decoded = unescape(piece) if "&" in piece else piece
                            if not segs:
                                seg_kind = kind
                            segs.append((pos + last, pos + ms, decoded,
                                         len(decoded) if in_link else 0, boiler))
                        if segs:
                            flush()
                        last = mm.end()
                    text = text[last:]  # the tail after the last separator
                    pos += last
                if text:
                    decoded = unescape(text) if "&" in text else text
                    if not segs:
                        seg_kind = kind
                    segs.append((pos, e, decoded,
                                 len(decoded) if in_link else 0, boiler))
                if e == mstart:
                    break
                if segs:
                    flush()
                pos = e
                bi += 1
                nxt = bounds[bi]
        if name:
            name = name.lower()
            closing = closing_s == "/"
            if name in BLOCK_TAGS:
                if segs:
                    flush()
                kind = name if not closing else "text"
            if name == "a" or name in BOILER_CONTAINERS:
                # the greedy attribute group consumes a trailing '/' when
                # attributes are present ('<a href="#"/>' -> attrs ' href="#"/',
                # group 4 empty), so self-close must also look at the attr
                # tail. HTML5 nuance: a '/' ending an UNQUOTED value
                # ('<a href=http://x.com/>') is part of the value, NOT a
                # self-close — so the trailing '/' only counts when it is
                # the whole attr string or follows a quote or whitespace
                selfclose = selfclose_s == "/" or (
                    attrs_s.endswith("/")
                    and (len(attrs_s) == 1 or attrs_s[-2] in "\"' \t\n\r\f"))
                if name == "a":
                    # a self-closing <a/> has no content: counting it open
                    # would mark ALL subsequent text as link chars (density
                    # 1.0 -> everything boilerplate) with no close to undo it
                    if not selfclose:
                        a_depth = a_depth + 1 if not closing else max(0, a_depth - 1)
                elif closing:
                    # pop the innermost matching open (tolerates bad nesting)
                    for k in range(len(boiler_stack) - 1, -1, -1):
                        if boiler_stack[k] == name:
                            del boiler_stack[k:]
                            break
                elif not selfclose:
                    boiler_stack.append(name)
                    if name in RAW_TEXT_TAGS:
                        raw_until = name
        pos = mend
    if segs:
        flush()


def _segment_plain(payload: str, forced: list[int] | None, row: int,
                   out: list[tuple]) -> None:
    """Split layout text at forced boundaries, then each piece (as its own
    string) at plain separators; every non-blank, non-rule run is one
    block, appended to ``out`` like ``_segment_html`` does."""
    n = len(payload)
    cuts = [0, *sorted({p for p in forced if 0 < p < n}), n] if forced else [0, n]
    unescape = _html.unescape
    for s, e in zip(cuts, cuts[1:]):
        text = payload[s:e]
        runs = []
        last = 0
        if "\n" in text or "\f" in text \
                or _LEAD_RULE_RE.match(text) is not None:
            for mm in _PLAIN_SEP_RE.finditer(text):
                runs.append((s + last, s + mm.start()))
                last = mm.end()
        runs.append((s + last, e))
        for a, b in runs:
            piece = payload[a:b]
            decoded = unescape(piece) if "&" in piece else piece
            stripped = decoded.strip()
            if not stripped or (stripped[0] in "-=_*"
                                and _RULE_LINE_RE.match(stripped)):
                continue
            lead = piece.lstrip()
            out.append((row, a + len(piece) - len(lead),
                        b - len(lead) + len(lead.rstrip()),
                        decoded, "text", 0, False))


def segment_batch(payloads: list[str],
                  forced_boundaries: list[list[int] | None] | None = None
                  ) -> BlockTable:
    """Segment a batch of payloads into one ``BlockTable``; the blocks of
    ``payloads[i]`` carry ``row == i``, in payload order.

    Auto-detects markup per payload: payloads containing tags go through
    the HTML tokenizer; plain/layout text (e.g. PDF-extracted ``tool``
    payloads) splits on form feeds, blank-line runs, and ASCII rules.
    Blocks come out in reading order (O1/O3/G16: payload position), so
    ids are dense 0..n-1 per row.
    """
    out: list[tuple] = []
    has_markup = _HAS_MARKUP_RE.search
    for row, payload in enumerate(payloads):
        if not payload:
            continue
        forced = forced_boundaries[row] if forced_boundaries is not None else None
        if has_markup(payload):
            _segment_html(payload, forced, row, out)
        else:
            _segment_plain(payload, forced, row, out)
    cols = tuple(zip(*out)) if out else ((),) * 7  # the seven block columns
    row = np.array(cols[0], dtype=np.int64)
    counts = np.bincount(row, minlength=len(payloads))
    firsts = np.cumsum(counts) - counts
    return BlockTable(
        row=row,
        start=np.array(cols[1], dtype=np.int64),
        end=np.array(cols[2], dtype=np.int64),
        visible=pa.array(cols[3], type=pa.string()),
        kind=np.array(cols[4], dtype=object),
        link_chars=np.array(cols[5], dtype=np.int64),
        boiler=np.array(cols[6], dtype=bool),
        block_id=np.arange(len(row), dtype=np.int64) - np.repeat(firsts, counts),
    )


def segment_payload(payload: str, forced_boundaries: list[int] | None = None) -> list[Block]:
    """Segment one payload into document-ordered ``Block``s: the
    single-payload view of ``segment_batch``."""
    t = segment_batch([payload], [forced_boundaries])
    return [Block(*fields) for fields in zip(
        t.start.tolist(), t.end.tolist(), t.visible.to_pylist(), t.kind.tolist(),
        t.link_chars.tolist(), t.boiler.tolist(), t.block_id.tolist())]
