"""Exhaustive code-point parity of the Arrow string kernels the extraction
chain uses against the Python string operations they replace.

``classify.block_features`` and ``textnorm.normalize_array`` compute over
whole Arrow columns what the per-block Python code computed with
``str.strip``/``split``/``len``/``lower``. Every non-surrogate code point
is checked alone, between two letters and at both edges of a word, so a
whitespace or case rule that differs between utf8proc and CPython fails
here by name instead of flipping an output somewhere downstream.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from dup_ocropy_spark.kernels.classify import STOPWORDS, block_features
from dup_ocropy_spark.kernels.segment import BlockTable
from dup_ocropy_spark.kernels.textnorm import (
    _HOMOGRAPH_TABLE, normalize_array, normalize_text,
)

CHARS = [chr(c) for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
FORMS = {
    "c": lambda c: c,
    "a{c}b": lambda c: "a" + c + "b",
    " {c}x{c} ": lambda c: " " + c + "x" + c + " ",
}


def _mismatches(got: list, want: list) -> list[str]:
    return [repr(CHARS[i]) for i, (g, w) in enumerate(zip(got, want)) if g != w][:10]


@pytest.mark.parametrize("form", list(FORMS))
def test_trim_split_length_space_match_python(form):
    strs = [FORMS[form](c) for c in CHARS]
    arr = pa.array(strs, type=pa.string())
    trimmed = pc.utf8_trim_whitespace(arr)
    want = [s.strip() for s in strs]
    assert trimmed.equals(pa.array(want, type=pa.string())), \
        _mismatches(trimmed.to_pylist(), want)
    lens = np.fromiter(map(len, strs), dtype=np.int64, count=len(strs))
    assert (pc.utf8_length(arr).to_numpy() == lens).all()
    # split runs on TRIMMED text; an all-whitespace string splits to one
    # empty token where Python yields none (callers floor counts at 1)
    want = [s.split() or [""] for s in strs]
    got = pc.utf8_split_whitespace(trimmed)
    assert got.equals(pa.array(want, type=pa.list_(pa.string()))), \
        _mismatches(got.to_pylist(), want)
    want = [s.isspace() for s in strs]
    assert pc.utf8_is_space(arr).to_pylist() == want


def test_stopword_match_equals_python_lower():
    """``ascii_lower`` + ``is_in`` decides stopwords as ``lower()`` does:
    the only non-ASCII code point that lowers to ASCII is U+212A (KELVIN
    SIGN -> 'k'), and no stopword contains a 'k'."""
    to_ascii = [c for c in CHARS if not c.isascii() and c.lower().isascii()]
    assert to_ascii == ["K"]
    assert not any("k" in w for w in STOPWORDS)
    lowers_ascii = [c for c in CHARS if c.lower().isascii()]
    words = list(CHARS) + [w[:i] + c + w[i + 1:] for w in sorted(STOPWORDS)
                           for i in range(len(w)) for c in lowers_ascii]
    words += ["THE", "İ", "İS", "KT", "Is", "İt"]
    got = pc.is_in(pc.ascii_lower(pa.array(words, type=pa.string())),
                   value_set=pa.array(sorted(STOPWORDS))).to_pylist()
    want = [w.lower() in STOPWORDS for w in words]
    assert got == want, [w for w, g, x in zip(words, got, want) if g != x][:10]


def _python_features(visible: str) -> list[float]:
    """The per-block ``str`` computation ``block_features`` replaces."""
    text = visible.strip()
    nt = len(text)
    words = text.lower().split()
    nw = len(words) or 1
    nstop = sum(w in STOPWORDS for w in words)
    npunct = sum(text.count(c) for c in ".,;:!?")
    ndig = sum(text.count(c) for c in "0123456789")
    return [float(np.log1p(np.float64(nt))), 0.0, 0.0, nstop / nw, npunct / nw,
            ndig / (nt or 1), sum(map(len, words)) / nw if words else 0.0, 0.0]


def test_block_features_match_python_per_code_point():
    """Bit-identical features with code points (every whitespace one and
    every 17th of the rest) inside prose with stopwords, digits and
    punctuation, plus the two case-mapping edge cases: U+0130 lowers to
    two code points (mean_word_len counts the lowered word), U+212A to
    ASCII 'k'."""
    chars = [c for i, c in enumerate(CHARS) if c.isspace() or i % 17 == 0]
    texts = [" the " + c + "x1, of" + c + " " for c in chars]
    texts += ["İstanbul is the city.", "İ İİ the", "Kelvin the 9",
              "İs the", "x", "  a  ", "　the　of　"]
    n = len(texts)
    zeros = np.zeros(n, dtype=np.int64)
    table = BlockTable(row=np.arange(n), start=zeros, end=zeros,
                       visible=pa.array(texts, type=pa.string()),
                       kind=np.array(["text"] * n, dtype=object), link_chars=zeros,
                       boiler=np.zeros(n, dtype=bool), block_id=zeros)
    got = block_features(table)
    want = np.array([_python_features(t) for t in texts])
    bad = np.flatnonzero((got != want).any(axis=1))
    assert not len(bad), [texts[i] for i in bad[:10]]


def test_normalize_array_matches_normalize_text():
    strs = [FORMS[" {c}x{c} "](c) for c in CHARS]
    strs += ["e\u0301 A\u030a  \u201cq\u201d\u2026\ufb01", "\xa0\u2028x\u3000\x1c",
             "".join(map(chr, _HOMOGRAPH_TABLE)) + " a\tb  c \ufb03\u201c\u201d"]
    got = normalize_array(pa.array(strs, type=pa.string())).to_pylist()
    want = [normalize_text(s) for s in strs]
    assert got == want, [repr(s) for s, g, w in zip(strs, got, want) if g != w][:10]
