"""Text normalization kernels (reference T1-T4).

Semantics match ``/root/reference/ocrolib/common.py:46-81``
(``normalize_text`` / ``project_text``) and the homograph table in
``/root/reference/ocrolib/chars.py:37-59``: NFC normalization, whitespace
collapse, and canonicalization of typographic variants (curly quotes,
primes, ellipsis, dash variants, micro sign, Latin ligatures).

Implementation is fresh (precompiled pattern list, single pass), and is
also mirrored as a JVM-side ``regexp_replace`` chain in
``dup_ocropy_spark.functions.text`` so the hot path can stay out of
Python when only normalization is needed.
"""

from __future__ import annotations

import re
import unicodedata

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# (pattern, replacement) pairs; order matters. Kept in sync with
# functions/text.py:NORMALIZE_SQL_CHAIN (test_textnorm guards the parity).
REPLACEMENTS: list[tuple[str, str]] = [
    (r"[_~#]", "~"),          # control/reject characters
    (r'"', "''"),             # typewriter double quote
    (r"`", "'"),              # grave accent used as quote
    (r"[“”„‟]", "''"),   # curly/german double quotes
    (r"[‘’‚‛]", "'"),    # curly single quotes
    (r"´", "'"),         # acute accent
    (r"…", "..."),       # ellipsis
    (r"′", "'"),         # prime
    (r"″", "''"),        # double prime
    (r"‴", "'''"),       # triple prime
    (r"〃", "''"),        # ditto mark
    (r"µ", "μ"),    # micro sign -> greek mu
    (r"[–—]", "-"), # en/em dash
    (r"ﬂ", "fl"),        # Latin ligatures
    (r"ﬁ", "fi"),
    (r"ﬀ", "ff"),
    (r"ﬃ", "ffi"),
    (r"ﬄ", "ffl"),
]

_COMPILED = [(re.compile(p), r) for p, r in REPLACEMENTS]
_WS = re.compile(r"\s+")
# fast-path guard: one scan for any char the replacement table touches
_ANY_SPECIAL = re.compile("[_~#\"`´“”„‟‘’‚‛…′″‴〃µ–—ﬂﬁﬀﬃﬄ]")
# whitespace other than a plain space (fast-path guard for the collapse)
_EXOTIC_WS = re.compile(r"[^\S ]")


def _table_from_replacements() -> dict[int, str]:
    """Flatten REPLACEMENTS into one str.translate table. Valid because
    every pattern is a single char or a char class and no replacement
    output re-matches a later pattern (all outputs are ASCII quotes/
    dots/dashes/letters; all patterns match non-ASCII or _~#"`); the
    equivalence to the sequential sub chain is asserted in test_kernels."""
    table: dict[int, str] = {}
    for pat, repl in REPLACEMENTS:
        chars = pat[1:-1] if pat.startswith("[") else pat.replace("\\", "")
        for ch in chars:
            table.setdefault(ord(ch), repl)
    return table


_HOMOGRAPH_TABLE = _table_from_replacements()


def normalize_text(s: str) -> str:
    """NFC-normalize, collapse whitespace, canonicalize homographs.

    Mirrors reference ``ocrolib/common.py:46-58``.
    """
    if s is None:
        return ""
    if not s.isascii():  # ASCII is NFC-invariant; skip the scan+copy
        s = unicodedata.normalize("NFC", s)
    # collapse whitespace runs; skip the regex when only single plain
    # spaces are present (the common case)
    if "  " in s or _EXOTIC_WS.search(s) is not None:
        s = _WS.sub(" ", s)
    s = s.strip()
    if _ANY_SPECIAL.search(s) is None:  # common case: no homographs present
        return s
    return s.translate(_HOMOGRAPH_TABLE)  # one pass == the 18-sub chain


def _column(arr: pa.Array) -> list[str]:
    return arr.to_numpy(zero_copy_only=False).tolist()  # ~3x pyarrow's to_pylist


def _replace_rows(arr: pa.Array, rows: np.ndarray, values: list[str]) -> pa.Array:
    mask = np.zeros(len(arr), dtype=bool)
    mask[rows] = True
    return pc.replace_with_mask(arr, pa.array(mask), pa.array(values, type=arr.type))


# the homograph table as (char, replacement) pairs: replaced one after the
# other they equal the one-pass translate, because no replacement output
# contains a table character (see _table_from_replacements), and a
# C-level ``in`` + ``replace`` per pair beats translate's per-char dict
# lookups ~4x on the rows that need it
_HOMOGRAPH_PAIRS = [(chr(c), r) for c, r in _HOMOGRAPH_TABLE.items()]


def _replace_homographs(s: str) -> str:
    for ch, repl in _HOMOGRAPH_PAIRS:
        if ch in s:
            s = s.replace(ch, repl)
    return s


def normalize_array(arr: pa.Array) -> pa.Array:
    """``normalize_text`` over a string column: NFC through
    ``unicodedata`` on the non-ASCII rows only, the whitespace collapse
    as an Arrow split + join (the same whitespace set as ``str.split``;
    tests/test_arrow_text_parity.py) on the rows holding anything but
    printable ASCII and single spaces, and the homograph table only on
    the rows that contain one of its characters."""
    rows = np.flatnonzero(~pc.string_is_ascii(arr).to_numpy(zero_copy_only=False))
    if len(rows):
        arr = _replace_rows(arr, rows, [unicodedata.normalize("NFC", s) for s in
                                        _column(arr.take(pa.array(rows)))])
    arr = pc.utf8_trim_whitespace(arr)
    collapse = pc.match_substring_regex(arr, "[^ -~]|  ")
    if pc.any(collapse).as_py():
        arr = pc.replace_with_mask(arr, collapse, pc.binary_join(
            pc.utf8_split_whitespace(arr.filter(collapse)), " "))
    rows = np.flatnonzero(pc.match_substring_regex(arr, _ANY_SPECIAL.pattern)
                          .to_numpy(zero_copy_only=False))
    if len(rows):
        arr = _replace_rows(arr, rows, [_replace_homographs(s) for s in
                                        _column(arr.take(pa.array(rows)))])
    return arr


_DOTROWS = re.compile(r"( *[.] *){4,}")
_CTRL = re.compile(r"[~_]")

_PROJECTIONS = {
    "exact": None,
    "nospace": re.compile(r"\s"),
    "spletdig": re.compile(r"[^A-Za-z0-9 ]"),
    "letdig": re.compile(r"[^A-Za-z0-9]"),
    "letters": re.compile(r"[^A-Za-z]"),
    "digits": re.compile(r"[^0-9]"),
    "lnc": re.compile(r"[^A-Z]"),
}


def project_text(s: str, kind: str = "exact") -> str:
    """Project text onto a restricted alphabet for lenient comparison.

    Mirrors reference ``ocrolib/common.py:60-81``: normalize, collapse
    dot-rows, strip control chars, then drop everything outside the
    projection alphabet.
    """
    s = normalize_text(s)
    s = _DOTROWS.sub("....", s)
    s = _CTRL.sub("", s)
    if kind not in _PROJECTIONS:
        raise ValueError(f"unknown projection: {kind}")
    if kind == "lnc":
        s = s.upper()
    pat = _PROJECTIONS[kind]
    return s if pat is None else pat.sub("", s)


def requote(s: str) -> str:
    """Collapse doubled straight quotes back to a typewriter double quote
    (reference ``ocrolib/chars.py:61-64``)."""
    return re.sub(r"''", '"', s)
