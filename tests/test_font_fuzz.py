"""Robustness: the embedded-font parsers (truetype/cff/type1) must
never hang or crash the render path on malformed data — renders wrap
loading in try/except, but glyph_outline runs per char, so parsers must
fail fast and deterministically."""

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pdfplumber_spark.kernel.cff import CFFError, CFFFont
from pdfplumber_spark.kernel.truetype import TrueTypeError, TrueTypeFont
from pdfplumber_spark.kernel.type1 import Type1Error, Type1Font
from reforacle import REFERENCE

FUZZ = settings(max_examples=120, deadline=None,
                suppress_health_check=[HealthCheck.too_slow])


def _real_cff():
    from pdfplumber_spark.kernel.pdfparse import PDFDocument

    data = open(f"{REFERENCE}/tests/pdfs/issue-316-example.pdf",
                "rb").read()
    doc = PDFDocument(data)
    num = int(re.search(rb"/FontFile3 (\d+) 0 R", data).group(1))
    return bytes(doc.get_object(num).get_data(doc))


REAL_CFF = _real_cff()


@given(st.binary(min_size=0, max_size=400))
@FUZZ
def test_cff_random_bytes_never_hang(data):
    try:
        f = CFFFont(data)
    except Exception:  # noqa: BLE001 — any clean failure is fine
        return
    for gid in range(min(f.nglyphs, 4)):
        f.glyph_outline(gid)  # must not raise (returns [] on damage)


@given(st.integers(0, len(REAL_CFF) - 1), st.integers(0, 255))
@FUZZ
def test_cff_bitflips_on_real_font(pos, val):
    mutated = REAL_CFF[:pos] + bytes([val]) + REAL_CFF[pos + 1:]
    try:
        f = CFFFont(mutated)
    except Exception:  # noqa: BLE001
        return
    for gid in (0, 1, min(33, f.nglyphs - 1)):
        f.glyph_outline(gid)


@given(st.binary(min_size=0, max_size=400))
@FUZZ
def test_truetype_random_bytes_never_hang(data):
    try:
        f = TrueTypeFont(data)
    except Exception:  # noqa: BLE001
        return
    f.glyph_id(101)
    f.glyph_outline(1)


@given(st.binary(min_size=0, max_size=400))
@FUZZ
def test_type1_random_bytes_never_hang(data):
    try:
        f = Type1Font(b"currentfile eexec\n" + data,
                      len(b"currentfile eexec\n"), len(data))
    except Exception:  # noqa: BLE001
        return
    for gid in range(min(f.nglyphs, 4)):
        f.glyph_outline(gid)


def test_deep_subr_recursion_bounded():
    # gsubr 0 calls itself forever: must raise/return, not hang
    import struct

    from tests.test_cff import _idx

    header = bytes([1, 0, 4, 1])
    name_idx = _idx([b"T"])
    string_idx = _idx([])
    gsubr = bytes([32]) + bytes([29])  # push -107 -> callgsubr[0]
    gsubr_idx = _idx([gsubr])
    charstrings = _idx([b"\x0e", bytes([32, 29, 14])])
    charset = bytes([0]) + struct.pack(">H", 34)
    for _ in range(2):
        top = (b"\x1d" + struct.pack(">i", 0) + bytes([15])
               + b"\x1d" + struct.pack(">i", 0) + bytes([17]))
        topdict_idx = _idx([top])
        base = len(header) + len(name_idx) + len(topdict_idx) \
            + len(string_idx) + len(gsubr_idx)
        top = (b"\x1d" + struct.pack(">i", base) + bytes([15])
               + b"\x1d" + struct.pack(">i", base + len(charset))
               + bytes([17]))
        topdict_idx = _idx([top])
    f = CFFFont(header + name_idx + topdict_idx + string_idx
                + gsubr_idx + charset + charstrings)
    assert f.glyph_outline(1) == []  # recursion guard fired, no hang
