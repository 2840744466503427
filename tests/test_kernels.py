"""Kernel golden tests — mirrors the reference's unit strategy
(``/root/reference/tests/run-unit:31-52``: exact expected values) plus the
edge fixtures from FIXTURES.md section 3/4. No Spark involved."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from dup_ocropy_spark.config import ExtractConfig
from dup_ocropy_spark.kernels import (
    extract_turn, levenshtein, normalize_text, project_text, requote,
    segment_payload, xlevenshtein,
)


# ---------------------------------------------------------------- edist (A1/A2)

@pytest.mark.parametrize("a,b,d", [
    ("a", "a", 0),
    ("", "", 0),
    ("a", "", 1),
    ("", "a", 1),
    ("aa", "aaaaaa", 4),
    ("aba", "bab", 2),
])
def test_levenshtein_goldens(a, b, d):
    assert levenshtein(a, b) == d


def test_xlevenshtein_goldens():
    assert xlevenshtein("exccpt", "except", 1) == (1.0, [("ccp", "cep")])
    assert xlevenshtein("", "test", 1) == (4.0, [])
    assert xlevenshtein("123 111 456", "132 111 444", 1) == (
        4.0, [("123_ ", "1_32 "), ("456 ", "444 ")])


# ---------------------------------------------------------------- textnorm (T1-T3)

def test_normalize_text_table():
    # homograph table: curly quotes, ligatures, micro, dashes, ellipsis
    assert normalize_text("“fancy” ‘q’") == "''fancy'' 'q'"
    assert normalize_text("eﬄuent ﬁne ﬂow") == "effluent fine flow"
    assert normalize_text("5µm") == "5μm"
    assert normalize_text("a–b—c") == "a-b-c"
    assert normalize_text("wait…") == "wait..."
    # whitespace collapse + strip
    assert normalize_text("  a \t\n b  ") == "a b"
    # NFC: e + combining acute -> precomposed
    assert normalize_text("café") == "café"
    # non-BMP passthrough
    assert normalize_text("ok \U0001F600 done") == "ok \U0001F600 done"
    assert normalize_text(None) == ""


def test_normalize_translate_table_equals_sub_chain():
    """The flattened str.translate table must be exactly equivalent to the
    sequential regex-sub chain it replaced (the REPLACEMENTS spec)."""
    import random

    from dup_ocropy_spark.kernels.textnorm import _COMPILED, _HOMOGRAPH_TABLE

    def sub_chain(s: str) -> str:
        for pat, repl in _COMPILED:
            s = pat.sub(repl, s)
        return s

    specials = "_~#\"`´“”„‟‘’‚‛…′″‴〃µ–—ﬂﬁﬀﬃﬄ"
    assert sub_chain(specials) == specials.translate(_HOMOGRAPH_TABLE)
    rng = random.Random(42)
    pool = specials + "abc XYZ 123 .,-'"
    for _ in range(200):
        s = "".join(rng.choice(pool) for _ in range(rng.randrange(0, 40)))
        assert sub_chain(s) == s.translate(_HOMOGRAPH_TABLE), repr(s)


def test_project_text():
    assert project_text("A1 b2!", "letdig") == "A1b2"
    assert project_text("A1 b2!", "letters") == "Ab"
    assert project_text("A1 b2!", "digits") == "12"
    assert project_text("A1 b2!", "lnc") == "AB"
    assert project_text("a  b", "nospace") == "ab"
    assert project_text(". . . . . .", "exact") == "...."  # dot-row collapse
    with pytest.raises(ValueError):
        project_text("x", "bogus")


def test_requote():
    assert requote("say ''hi''") == 'say "hi"'


# ---------------------------------------------------------------- segmentation

HTML = """<html><head><title>T</title><style>b{c:d}</style></head><body>
<nav><a href=/>Home</a> <a href=/a>About us now</a></nav>
<h1>Heading Text Here</h1>
<p>First real paragraph with a good number of plain words in it.</p>
<p>Second paragraph with &amp; and a <a href=x>tiny link</a> still prose.</p>
<hr>
<footer>Copyright Notice &copy; owners</footer></body></html>"""


def test_segment_html_blocks():
    blocks = segment_payload(HTML)
    kinds = [(b.kind, b.boiler) for b in blocks]
    assert ("h1", False) in kinds
    # nav/footer/title are boilerplate containers (presence-guarded: an
    # all() over an empty filter would be vacuously green if segmentation
    # stopped emitting these blocks entirely)
    boiler = [b for b in blocks if b.kind in ("nav", "footer", "title")]
    assert boiler and all(b.boiler for b in boiler)
    # style content never appears
    assert not any("c:d" in b.visible for b in blocks)
    # ids dense and ordered by position
    assert [b.block_id for b in blocks] == list(range(len(blocks)))
    assert all(blocks[i].start <= blocks[i + 1].start for i in range(len(blocks) - 1))


def test_segment_entities_decoded_spans_raw():
    blocks = segment_payload("<p>fish &amp; chips for dinner</p>")
    assert blocks[0].visible == "fish & chips for dinner"
    # span covers the raw (undecoded) payload extent
    assert blocks[0].start == 3 and blocks[0].end == 3 + len("fish &amp; chips for dinner")


def test_segment_plain_separators():
    p = "First block of text here.\n\nSecond block after blank.\n====\nThird block after rule.\fFourth after formfeed."
    blocks = segment_payload(p)
    assert len(blocks) == 4
    assert blocks[0].visible.startswith("First")
    assert blocks[3].visible.startswith("Fourth")
    # no rule-line block survives
    assert not any("====" in b.visible for b in blocks)


def test_segment_forced_boundary():
    p = "aaaa bbbb cccc dddd eeee ffff gggg hhhh"
    plain = segment_payload(p)
    assert len(plain) == 1
    forced = segment_payload(p, forced_boundaries=[20])
    assert [(b.start, b.end) for b in forced] == [(0, 19), (20, 39)]


def test_segment_boundary_spans():
    p = "Content right at start and it runs to the very end"
    b = segment_payload(p)
    assert b[0].start == 0 and b[0].end == len(p)


# ---------------------------------------------------------------- extract gates

def test_extract_edge_fixtures():
    assert extract_turn("")["reject_reason"] == "empty"
    assert extract_turn("   \n\t ")["reject_reason"] == "blank"
    assert extract_turn("tiny")["reject_reason"] == "too_short"
    assert extract_turn("x" * 2_000_000)["reject_reason"] == "too_long"
    big = "\n\n".join(f"paragraph number {i} with several words" for i in range(400))
    assert extract_turn(big)["reject_reason"] == "too_many_blocks"


def test_extract_all_boilerplate():
    r = extract_turn("<nav><a href=/>Home page link</a> <a href=/b>Other link text</a></nav>")
    assert r["extracted_text"] == "" and r["spans"] == [] and r["reject_reason"] is None


def test_extract_plain_passthrough():
    # already-plain payload (no markup): passthrough branch, still normalized
    r = extract_turn("Just  a plain   sentence with no markup at all in sight.")
    assert r["extracted_text"] == "Just a plain sentence with no markup at all in sight."
    assert r["spans"][0]["start"] == 0


def test_extract_tool_payload_precedence():
    r = extract_turn("<p>html body text that is long enough</p>",
                     "Tool payload wins when present and long enough.")
    assert r["extracted_text"].startswith("Tool payload wins")


def test_extract_deterministic():
    r1 = extract_turn(HTML)
    r2 = extract_turn(HTML)
    assert r1 == r2


def test_extract_logistic_mode_agrees_on_clear_cases():
    cfg = ExtractConfig(classifier="logistic")
    r = extract_turn(HTML, config=cfg)
    assert "First real paragraph" in r["extracted_text"]
    assert "Copyright" not in r["extracted_text"]


def test_arrow_batch_rows_for_policy():
    """Batch cap scales inversely with payload size: KB payloads keep the
    tuned 2048-row default, MB payloads drop to ~16MiB/payload rows, and
    the clamp floor prevents degenerate 1-row batches."""
    from dup_ocropy_spark.config import (
        ARROW_BATCH_TARGET_BYTES, DEFAULT_CONFIG, arrow_batch_rows_for,
    )

    assert arrow_batch_rows_for(1_000) == DEFAULT_CONFIG.arrow_batch_rows
    assert arrow_batch_rows_for(900_000) == ARROW_BATCH_TARGET_BYTES // 900_000
    assert arrow_batch_rows_for(10_000_000) == 16   # floor
    assert arrow_batch_rows_for(0) == DEFAULT_CONFIG.arrow_batch_rows


def test_extract_frame_bitwise_equals_per_turn():
    """extract_frame classifies all rows' blocks in one pass; where the
    batch is split must be invisible for every classifier. The whole
    frame, seeded random chunkings of it and the row-at-a-time
    extract_turn path must agree exactly — which holds only because
    logistic_scores accumulates in fixed column order (shape-independent
    summation) and the sequence scorers never see across a document
    edge. Masked rows (forced boundaries) ride along."""
    import numpy as np
    import pandas as pd

    from dup_ocropy_spark.kernels import extract_frame
    from dup_ocropy_spark.sources.transcripts import synth_conv

    pdf = pd.concat([synth_conv(c)[0] for c in range(12)], ignore_index=True)
    pdf = pdf[["conv_id", "turn_idx", "role", "text", "tool"]]
    # edge rows: empty / blank / short / markup-free
    edge = pd.DataFrame({
        "conv_id": ["e"] * 4, "turn_idx": [0, 1, 2, 3],
        "role": ["user"] * 4,
        "text": ["", "   \n ", "tiny", "plain sentence long enough to pass the gate"],
        "tool": [None] * 4,
    })
    pdf = pd.concat([pdf, edge], ignore_index=True)
    # forced boundaries on every fifth row (the mask column)
    rng = np.random.default_rng(11)
    masks = [None] * len(pdf)
    for i in range(0, len(pdf), 5):
        payload = pdf.tool.iloc[i] or pdf.text.iloc[i] or ""
        if len(payload) > 2:
            masks[i] = sorted(int(p) for p in rng.integers(0, len(payload), size=3))
    pdf["mask"] = masks
    from dup_ocropy_spark.kernels.classify import CTX_WEIGHTS
    from dup_ocropy_spark.kernels.lstm import TinyBiLSTM
    # untrained weights chosen so both labels occur (seed 2: ~65% content)
    lstm_flat = tuple(TinyBiLSTM(n_in=8, seed=2).to_flat().tolist())
    ctx_w = CTX_WEIGHTS.copy()
    ctx_w[8:] = np.random.default_rng(5).normal(size=16)  # neighbors matter
    configs = {
        "rule": ExtractConfig(), "logistic": ExtractConfig(classifier="logistic"),
        "logistic_ctx": ExtractConfig(classifier="logistic_ctx",
                                      weights=tuple(ctx_w.tolist())),
        "lstm": ExtractConfig(classifier="lstm", weights=lstm_flat),
    }
    cols = ["extracted_text", "spans", "reject_reason", "n_blocks", "n_content",
            "payload_len"]
    for clf, cfg in configs.items():
        got = extract_frame(pdf, cfg)
        for seed in range(3):
            cuts = sorted(np.random.default_rng(seed).choice(
                np.arange(1, len(pdf)), size=6, replace=False).tolist())
            chunked = pd.concat(
                [extract_frame(pdf.iloc[a:b].reset_index(drop=True), cfg)
                 for a, b in zip([0, *cuts], [*cuts, len(pdf)])],
                ignore_index=True)
            for c in cols:
                assert chunked[c].tolist() == got[c].tolist(), (clf, seed, c)
        for i in range(len(pdf)):
            want = extract_turn(
                pdf.text.iloc[i] if isinstance(pdf.text.iloc[i], str) else None,
                pdf.tool.iloc[i] if isinstance(pdf.tool.iloc[i], str) else None,
                forced_boundaries=masks[i], config=cfg)
            for c in cols:
                assert got[c].iloc[i] == want[c], (clf, i, c)


def test_extract_batch_passes_null_turn_idx_through():
    """A null ``turn_idx`` comes back null, not as an int32 sentinel; the
    other identity columns and ``ts`` pass through untouched."""
    import pyarrow as pa

    from dup_ocropy_spark.kernels.oracle import extract_batch

    batch = pa.record_batch({
        "conv_id": pa.array(["a", None, "c"]),
        "turn_idx": pa.array([None, 1, 2], pa.int64()),
        "role": pa.array(["user", "tool", None]),
        "text": pa.array(["<p>a paragraph long enough to keep</p>", None, ""]),
        "tool": pa.array([None, "tool payload that is long enough", None]),
        "ts": pa.array([0, None, 2], pa.timestamp("us", tz="UTC")),
    })
    out = extract_batch(batch)
    assert out.schema.field("turn_idx").type == pa.int32()
    assert out.column("turn_idx").to_pylist() == [None, 1, 2]
    assert out.column("conv_id").to_pylist() == ["a", None, "c"]
    assert out.column("role").to_pylist() == ["user", "tool", None]
    assert out.column("ts").equals(batch.column("ts"))
    assert out.column("reject_reason").to_pylist() == [None, None, "empty"]


@pytest.mark.parametrize("text,tool", [
    ("abc\ud800def ghi jkl mno pqr stu vwx", None),
    ("<p>one \udfff two three four five six seven</p><p>😀 eight nine</p>", None),
    (None, "tool \udc80 payload that is long enough"),
])
def test_extract_turn_maps_lone_surrogates_to_replacement_char(text, tool):
    """A lone surrogate (no Arrow string can hold one) is extracted as
    U+FFFD, one code point for one, so spans index the original text."""
    def fix(s):
        return None if s is None else "".join(
            "\ufffd" if 0xD800 <= ord(c) <= 0xDFFF else c for c in s)

    got = extract_turn(text, tool=tool)
    assert got == extract_turn(fix(text), tool=fix(tool))
    assert got["reject_reason"] is None and "\ufffd" in got["extracted_text"]
    payload = text if tool is None else tool
    assert got["payload_len"] == len(payload)
    assert all(s["end"] <= len(payload) for s in got["spans"])


def test_self_closing_anchor_does_not_poison_link_density():
    """'<a href="#"/>' must not leave a_depth permanently open: with the
    greedy attr regex the trailing '/' lands in the attribute group, and
    an uncorrected open-anchor count marks ALL later text as link chars
    (density 1.0 -> the rule classifier boilerplates the whole doc)."""
    from dup_ocropy_spark.kernels.segment import segment_payload

    for payload in ('<p><a href="#"/>See our documentation for details</p>',
                    "<p><a/>plain anchor selfclose text body</p>"):
        blocks = segment_payload(payload)
        assert len(blocks) == 1
        assert blocks[0].link_chars == 0, payload
    # a REAL anchor still counts exactly its own text
    blocks = segment_payload('<p><a href="/x">link text</a> and tail</p>')
    assert blocks[0].link_chars == len("link text")


def test_forced_boundary_at_slice_start_still_splits():
    """A forced boundary landing exactly where a text slice begins (right
    after an inline tag) must flush the pending block — the strict
    s < p < e interior filter alone silently dropped the split."""
    from dup_ocropy_spark.kernels.segment import segment_payload

    blocks = segment_payload("abcdef<b>ghijkl</b>", forced_boundaries=[9])
    assert [(b.start, b.end, b.visible) for b in blocks] == \
        [(0, 6, "abcdef"), (9, 15, "ghijkl")]
    # interior boundary unchanged; boundary at 0 / past end are no-ops
    blocks = segment_payload("abcdefghijkl", forced_boundaries=[0, 6, 99])
    assert [(b.visible) for b in blocks] == ["abcdef", "ghijkl"]


# ------------------------------------------------- segmentation golden snapshot

_SEGMENT_GOLDEN = Path(__file__).parent / "data" / "segment_golden.json"
_GOLDEN_CHUNK = 200  # segmentations per digest


def _segment_golden_runs():
    """(payload, forced_boundaries) pairs of the golden corpus: hand cases,
    a seeded token fuzz and the special-chars fixture payloads, each under
    no boundaries, ``[0]`` and three seeded random boundary sets drawn
    from ``[-2, len + 2]``, plus explicit mask-join edge cases."""
    import random

    from tests.test_parity_special_chars import MULTIBLOCK_TEXTS, SPECIAL_TEXTS

    cases = [
        "", " ", "\n\n\n", "hello", "a<b>c</b>d", "<p>x</p><p>y</p>",
        "<script>var x='<p>no</p>';</script>after",
        "<style>p{}</style>text", "<!-- <p>comment</p> -->visible",
        "<![CDATA[ <div>raw</div> ]]>tail",
        "<a href='#'>link</a> plain", "<a href=http://x.com/>uq</a>",
        "<a/>selfclose anchor text", "<nav>menu<p>item</p></nav>body",
        "<footer><footer>double</footer>x</footer>y",
        "pre\n\n\nmid\f\fpost", "----\ncontent\n====",
        "a&amp;b<p>&lt;tag&gt;</p>", "text ____ more",
        "<p>\n----\n</p>", "<h1>Head</h1>para",
        "<select><option>a</option></select>rest",
        "<SCRIPT>UP</SCRIPT>low", "<P>upper block</P>",
        "<br/><hr/>between", "\fstart", "end\f", "  \f  ",
        "cont\r\nwin\r\n\r\nnext", "<p title='a>b'>attr gt</p>",
        "<p data-x=\"y'z\">mixquote</p>w", "-----", "&#65;&#66;",
    ]
    rng = random.Random(7)
    toks = ["<p>", "</p>", "<div>", "</div>", "<a href='#'>", "</a>",
            "<nav>", "</nav>", "<script>", "</script>", "text ", "&amp; ",
            "\n\n", "\f", "----\n", "word", "<br/>", "<!--c-->", "  ",
            "<h2>", "</h2>", "<a/>", "<P>", "</P>", "\t", "„q‟",
            "<option>", "</option>", "<td>x</td>"]
    for _ in range(1000):
        cases.append("".join(rng.choice(toks) for _ in range(rng.randint(1, 25))))
    cases += SPECIAL_TEXTS + MULTIBLOCK_TEXTS

    brng = random.Random(11)
    for p in cases:
        yield p, None
        yield p, [0]
        for _ in range(3):
            yield p, [brng.randint(-2, len(p) + 2)
                      for _ in range(brng.randint(1, 4))]
    script = "lead words<script>var s = '<p>';</script>tail words"
    tag = "abc<b class='x'>def</b>ghi<!-- note -->jkl"
    blank = "para one\n\npara two\n \n\npara three"
    yield script, [script.index("var") + 4]          # inside raw text
    yield script + "<script>open", [len(script) + 10]  # unclosed raw text
    yield tag, [5]                                     # inside a tag
    yield tag, [tag.index("note")]                     # inside a comment
    yield tag, [3, 16]                                 # at tag edges
    yield blank, [blank.index("\n") + 1]              # between the two \n
    yield blank, [blank.index("\n \n") + 2]
    yield blank, [20, 5, 20, 9, 5]                     # unsorted, duplicate
    yield tag, [-5, -1, 0, len(tag), len(tag) + 7]     # out of range
    yield "abcdef<b>ghijkl</b>", [9, 9, 3]


def _segment_golden_digests() -> list[str]:
    import hashlib

    digests = []
    h = hashlib.sha256()
    for i, (p, forced) in enumerate(_segment_golden_runs(), 1):
        blocks = segment_payload(p, forced_boundaries=forced)
        h.update(repr([(int(b.start), int(b.end), b.visible, b.kind,
                        b.link_chars, b.boiler, b.block_id)
                       for b in blocks]).encode())
        if i % _GOLDEN_CHUNK == 0:
            digests.append(h.hexdigest())
            h = hashlib.sha256()
    digests.append(h.hexdigest())
    return digests


def test_segment_matches_golden_snapshot():
    """Blocks (extent, visible text, kind, link chars, boiler flag, id)
    match the snapshot taken before the unmasked and masked segmentation
    paths were folded into one loop. Regenerate only for an intended
    change: ``python -m tests.test_kernels > tests/data/segment_golden.json``."""
    want = json.loads(_SEGMENT_GOLDEN.read_text())
    got = _segment_golden_digests()
    assert len(got) == len(want["digests"])
    bad = [i for i, (g, w) in enumerate(zip(got, want["digests"])) if g != w]
    assert not bad, (f"segmentation changed in golden chunks {bad} "
                     f"(runs [{bad[0] * _GOLDEN_CHUNK}, "
                     f"{(bad[0] + 1) * _GOLDEN_CHUNK}))")


if __name__ == "__main__":
    print(json.dumps({"chunk": _GOLDEN_CHUNK,
                      "digests": _segment_golden_digests()}, indent=1))
