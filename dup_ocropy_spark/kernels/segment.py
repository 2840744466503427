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
  * reading order (O1/O3)   -> blocks sorted by payload position, ids
    densified 0..n-1 (``psegutils.py:127-164``, ``morph.py:229-246``)

Every block carries its raw character extent ``[start, end)`` into the
original payload — these become the output ``spans``.

Pure Python/regex over one payload; called per row from inside an Arrow
batch (the reference is likewise per-page imperative inside
``multiprocessing`` workers).
"""

from __future__ import annotations

import html as _html
import re
from dataclasses import dataclass
from itertools import chain


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
    """A contiguous visible-text run with its raw payload extent."""

    start: int            # raw char offset, inclusive
    end: int              # raw char offset, exclusive
    visible: str          # tag-stripped, entity-decoded text
    kind: str = "text"    # enclosing block element name or 'text'
    link_chars: int = 0   # visible chars inside <a> (link-density feature)
    boiler: bool = False  # inside a boilerplate container
    block_id: int = -1    # dense document-order id, assigned at the end
    label: str = ""       # filled by classify_blocks
    score: float = 0.0    # filled by classify_blocks

    @property
    def n_visible(self) -> int:
        return len(self.visible.strip())

    @property
    def link_density(self) -> float:
        nv = len(self.visible)
        return self.link_chars / nv if nv else 0.0


def _trim_extent(payload: str, start: int, end: int) -> tuple[int, int]:
    """Shrink [start, end) to exclude flanking whitespace so spans are
    tight (content at payload start/end yields start=0 / end=len)."""
    while start < end and payload[start].isspace():
        start += 1
    while end > start and payload[end - 1].isspace():
        end -= 1
    return start, end


# cursor sentinel past every payload offset: an int, so the unmasked
# case pays plain int compares per text run
_NO_BOUNDARY = 1 << 62
# zero-width match at the payload end with _TAG_RE's four groups (none
# participate): closes the trailing text run through the tag-loop body
_END_RE = re.compile(r"\Z(/)?(/)?(/)?(/)?")


def _segment_html(payload: str, forced: list[int] | None) -> list[Block]:
    """Tokenize markup into blocks. Visible text runs between tags
    accumulate into the pending block; block-level tags, plain separators
    inside a run and forced boundaries flush it (the seed-propagation
    analog: every visible run between two separators is one region)."""
    n = len(payload)
    bounds = sorted(set(forced)) + [_NO_BOUNDARY] if forced else [_NO_BOUNDARY]
    bi = 0
    nxt = bounds[0]           # next forced boundary not yet applied
    blocks: list[Block] = []
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
        if not visible.strip():
            return
        s, e = _trim_extent(payload, s, e)
        blocks.append(Block(start=s, end=e, visible=visible, kind=seg_kind,
                            link_chars=link_chars, boiler=boiler))

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
    return blocks


def _segment_plain(payload: str, forced: list[int] | None) -> list[Block]:
    """Split layout text at forced boundaries, then each piece (as its own
    string) at plain separators; every resulting run is one block."""
    n = len(payload)
    cuts = [0, *sorted({p for p in forced if 0 < p < n}), n] if forced else [0, n]
    blocks: list[Block] = []
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
            if decoded.strip():
                a, b = _trim_extent(payload, a, b)
                blocks.append(Block(start=a, end=b, visible=decoded))
    return blocks


def segment_payload(payload: str, forced_boundaries: list[int] | None = None) -> list[Block]:
    """Segment one payload into document-ordered blocks with raw extents.

    Auto-detects markup: payloads containing tags go through the HTML
    tokenizer; plain/layout text (e.g. PDF-extracted ``tool`` payloads)
    splits on form feeds, blank-line runs, and ASCII rules.
    """
    if not payload:
        return []
    if _HAS_MARKUP_RE.search(payload):
        blocks = _segment_html(payload, forced_boundaries)
    else:
        blocks = _segment_plain(payload, forced_boundaries)
    # hline-removal analog (P4): rule-only blocks are separators, not content
    blocks = [b for b in blocks if not _RULE_LINE_RE.match(b.visible.strip())]
    # reading order + dense renumber (O1/O3/G16): payload order, ids 0..n-1
    blocks.sort(key=lambda b: (b.start, b.end))
    for i, b in enumerate(blocks):
        b.block_id = i
    return blocks
