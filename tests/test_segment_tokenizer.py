"""The compiled segmentation tokenizer on code points and degenerate
inputs: block extents are ``str`` offsets for payloads of every
``PyUnicode`` kind (ASCII, Latin-1, BMP, astral), the raw extent trims
like ``str.strip`` of the visible text, and its plain-text separators
are exactly ``PLAIN_SEP_PATTERN`` under Python's ``re.M``.

Expected blocks are (start, end, visible, kind, link_chars, boiler), as
the Python tokenizer the extension replaced produced them."""

import html
import random
import re

import pyarrow as pa
import pytest

from dup_ocropy_spark.kernels.segment import (
    PLAIN_SEP_PATTERN, RULE_BLOCK_PATTERN, segment_batch, segment_payload,
)

GOLDEN = [
    ("<p>plain ascii words</p>", None,
     [(3, 20, "plain ascii words", "p", 0, False)]),
    ("<p>café crème</p>\n\nnaïve text", None,
     [(3, 13, "café crème", "p", 0, False),
      (19, 29, "naïve text", "text", 0, False)]),
    ("<h1>„quoted“</h1><p>fish &amp; chips €5</p>", None,
     [(4, 12, "„quoted“", "h1", 0, False),
      (20, 39, "fish & chips €5", "p", 0, False)]),
    ("<p>emoji \U0001F600 here</p><a href='#'>link \U0001F680</a>", None,
     [(3, 15, "emoji \U0001F600 here", "p", 0, False),
      (31, 37, "link \U0001F680", "text", 6, False)]),
    ("&#x1F600; smile &amp; \U0001F600\n\né&eacute;", None,
     [(0, 23, "\U0001F600 smile & \U0001F600", "text", 0, False),
      (25, 34, "éé", "text", 0, False)]),
    # forced boundaries count code points, not UTF-8 or UTF-16 units
    ("\U0001F600\U0001F600 ab \U0001F600 cd", [3, 7],
     [(0, 2, "\U0001F600\U0001F600 ", "text", 0, False),
      (3, 7, "ab \U0001F600", "text", 0, False),
      (8, 10, " cd", "text", 0, False)]),
    ("<nav>„menu“</nav>body é", [9, 14],
     [(5, 9, "„men", "nav", 0, True), (9, 11, "u“", "nav", 0, True),
      (17, 23, "body é", "text", 0, False)]),
    # a boundary inside an entity decodes each side on its own
    ("a&amp;b c&amp;d", [5],
     [(0, 5, "a&", "text", 0, False), (5, 15, ";b c&d", "text", 0, False)]),
    ("<p>nul\x00inside</p>\x00", None,
     [(3, 13, "nul\x00inside", "p", 0, False), (17, 18, "\x00", "text", 0, False)]),
    # non-ASCII whitespace trims the extent (str.isspace), not the text
    ("\u3000\xa0 wide space \u2028\x85", None,
     [(3, 13, "\u3000\xa0 wide space \u2028\x85", "text", 0, False)]),
    ("<!--\ud800-->visible text", None,
     [(8, 20, "visible text", "text", 0, False)]),
]


def _blocks(payload, forced=None):
    return [(b.start, b.end, b.visible, b.kind, b.link_chars, b.boiler)
            for b in segment_payload(payload, forced)]


@pytest.mark.parametrize("payload,forced,want", GOLDEN)
def test_code_point_extents_match_golden(payload, forced, want):
    assert _blocks(payload, forced) == want


def _check_trim(payload, blocks):
    for start, end, visible, *_ in blocks:
        raw = payload[start:end]
        assert raw and raw == raw.strip(), (payload, start, end)
        assert visible.strip()
        if "<" not in raw and "&" not in raw:
            assert visible.strip() == raw


def test_degenerate_payloads_do_not_crash_and_trim_consistently():
    long_word = "x" * 10_000
    assert _blocks(long_word) == [(0, 10_000, long_word, "text", 0, False)]
    astral = "\U0001F600" * 10_000
    assert _blocks(astral, [5_000]) == [
        (0, 5_000, astral[:5_000], "text", 0, False),
        (5_000, 10_000, astral[5_000:], "text", 0, False)]
    payloads = [
        long_word, astral, "<" * 10_000, "<a '" * 2_500, '<p title="' * 2_500,
        "<!--" * 2_500, "<![CDATA[" * 1_000, "&" * 10_000, "&amp;" * 2_000,
        "-" * 10_000, "\n" * 10_000, "\f" * 10_000, "\x00" * 10_000,
        "<script>" + "x" * 10_000, "<nav>" * 2_000 + "tail", "</nav>" * 2_000,
        "<a>" * 3_000 + "deep link", "\ud7ff\ue000\uffff\U0010ffff text",
        *(p for p, _, _ in GOLDEN),
    ]
    rng = random.Random(5)
    forced = [sorted(rng.randint(-2, len(p) + 2) for _ in range(3)) for p in payloads]
    for bounds in (None, forced):
        table = segment_batch(payloads, bounds)
        assert table.row.tolist() == sorted(table.row.tolist())
        for i, p in enumerate(payloads):
            rows = table.row == i
            blocks = list(zip(table.start[rows].tolist(), table.end[rows].tolist(),
                              table.visible.filter(pa.array(rows)).to_pylist()))
            assert all(0 <= s < e <= len(p) for s, e, _ in blocks)
            assert all(a[1] <= b[0] for a, b in zip(blocks, blocks[1:]))
            _check_trim(p, blocks)


def test_lone_surrogate_in_visible_text_raises_encode_error():
    """Visible text is UTF-8, which has no lone surrogates: the error is
    the one ``str.encode`` raises, and a surrogate in markup is harmless."""
    for payload in ("a\ud800b", "<p>x\udfffy</p>", "&amp;\ud800", "\U0001F600\ud800"):
        with pytest.raises(UnicodeEncodeError):
            segment_payload(payload)
    assert _blocks("<a title='\ud800'>t</a>") == [(13, 14, "t", "text", 1, False)]
    # the close tag of a raw-text element leaves its kind open
    assert _blocks("<script>\ud800</script>tail") == [(18, 22, "tail", "script", 0, False)]


def _plain_reference(text):
    """Blocks of a tag-free payload with no forced boundaries, straight
    from the exported patterns: runs between ``PLAIN_SEP_PATTERN``
    matches (``re.M``), entity-decoded, dropping blank and
    ``RULE_BLOCK_PATTERN`` runs, extents trimmed of whitespace."""
    cuts = [(m.start(), m.end()) for m in re.finditer(PLAIN_SEP_PATTERN, text, re.M)]
    runs = zip([0] + [e for _, e in cuts], [s for s, _ in cuts] + [len(text)])
    out = []
    for a, b in runs:
        visible = html.unescape(text[a:b])
        if not visible.strip() or re.match(RULE_BLOCK_PATTERN, visible.strip()):
            continue
        raw = text[a:b]
        lead = len(raw) - len(raw.lstrip())
        out.append((a + lead, b - (len(raw) - len(raw.rstrip())), visible,
                    "text", 0, False))
    return out


def test_plain_separators_are_the_exported_pattern():
    """The tokenizer's separator scan equals ``re.finditer`` over
    ``PLAIN_SEP_PATTERN``, including the ``\\f`` edge (``^`` anchors after
    ``\\n`` only) and alternation priority (``\\f`` runs, then blank-line
    runs, then rule lines)."""
    toks = ["\n", "\n", "\f", " ", "\t", "-", "-", "=", "_", "*", "x", "word ",
            "é", "\u2028", "\r\n", "&amp;", "----", "\n----\n"]
    rng = random.Random(3)
    for _ in range(4_000):
        text = "".join(rng.choice(toks) for _ in range(rng.randint(1, 30)))
        assert _blocks(text) == _plain_reference(text), repr(text)
    # a rule line right after a form feed is text here (RE2 would split)
    assert _blocks("a\f----\nb") == [(0, 1, "a", "text", 0, False),
                                     (2, 8, "----\nb", "text", 0, False)]
