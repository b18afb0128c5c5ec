"""CFF (/FontFile3, Type1C) parsing + Type 2 charstring rendering.

Reference analogue: pdfplumber display.py renders via pypdfium2, which
ships its own CFF rasterizer; this engine parses CFF itself
(kernel/cff.py, from Adobe TN #5176/#5177) and reuses the TrueType
scanline rasterizer through the shared duck-typed font surface.
"""

import re
import struct

import pytest

from pdfplumber_spark.kernel.cff import CFFFont, STANDARD_STRINGS
from pdfplumber_spark.kernel.pdfparse import PDFDocument
from pdfplumber_spark.kernel.truetype import rasterize_glyph
from reforacle import REFERENCE

PDFS = f"{REFERENCE}/tests/pdfs/"


def _fontfile3(path, idx=0):
    data = open(path, "rb").read()
    doc = PDFDocument(data)
    nums = [int(m) for m in re.findall(rb"/FontFile3 (\d+) 0 R", data)]
    st = doc.get_object(nums[idx])
    return CFFFont(bytes(st.get_data(doc)))


# -- real embedded fonts -------------------------------------------------

def test_real_type1c_parses_and_rasterizes():
    f = _fontfile3(PDFS + "issue-316-example.pdf")
    assert f.units_per_em == 1000 and not f.is_cid
    assert f.nglyphs == 52
    # 'e' must have ring + counter
    gid = f.glyph_id(ord("e"))
    assert gid is not None
    assert len(f.glyph_outline(gid)) == 2
    for ch in "aeg4R":
        g = f.glyph_id(ord(ch))
        assert g is not None, ch
        mask = rasterize_glyph(f, g, 24, 30)
        assert mask is not None and mask.any(), ch
        frac = mask.mean() / 255.0
        assert 0.02 < frac < 0.8, (ch, frac)


def test_real_2048_upem_font():
    # senate-expenditures embeds a 2048-upem CFF (unusual FontMatrix)
    f = _fontfile3(PDFS + "senate-expenditures.pdf", idx=1)
    assert f.units_per_em == 2048
    g = f.glyph_id(ord("e"))
    assert g is not None and len(f.glyph_outline(g)) >= 1


def test_cid_keyed_cff_outlines_but_no_unicode_map():
    f = _fontfile3(PDFS + "issue-598-example.pdf")
    assert f.is_cid
    assert f.glyph_id(ord("e")) is None  # text->CID needs the CMap
    # outlines still resolve per-gid through FDArray/FDSelect
    inked = sum(
        1 for gid in range(1, min(f.nglyphs, 40))
        if f.glyph_outline(gid)
    )
    assert inked > 10


def test_standard_strings_table():
    assert len(STANDARD_STRINGS) == 391
    assert STANDARD_STRINGS[0] == ".notdef"
    assert STANDARD_STRINGS[1] == "space"
    assert STANDARD_STRINGS[34] == "A"
    assert STANDARD_STRINGS[66] == "a"
    assert STANDARD_STRINGS[228] == "zcaron"
    assert STANDARD_STRINGS[390] == "Semibold"


# -- synthetic fonts: exact charstring geometry --------------------------

def _idx(items):
    if not items:
        return struct.pack(">H", 0)
    offs = [1]
    for it in items:
        offs.append(offs[-1] + len(it))
    osz = 1 if offs[-1] < 256 else 2
    out = struct.pack(">HB", len(items), osz)
    for o in offs:
        out += o.to_bytes(osz, "big")
    return out + b"".join(items)


def _n(v):
    """Encode a Type2/DICT integer operand (small range)."""
    assert -107 <= v <= 107
    return bytes([v + 139])


def _mini_cff(charstring, nglyphs_extra_sid=34):
    """One-glyph CFF: gid1 runs ``charstring`` (gid0 = .notdef)."""
    header = bytes([1, 0, 4, 1])
    name_idx = _idx([b"T"])
    string_idx = _idx([])
    gsubr_idx = _idx([])
    charstrings = _idx([b"\x0e", charstring])
    charset = bytes([0]) + struct.pack(">H", nglyphs_extra_sid)
    # two-pass: top dict uses fixed-width (29) s32 offset encodings
    for _ in range(2):
        top = (b"\x1d" + struct.pack(">i", 0) + bytes([15])   # charset
               + b"\x1d" + struct.pack(">i", 0) + bytes([17]))  # CharStrings
        topdict_idx = _idx([top])
        base = len(header) + len(name_idx) + len(topdict_idx) \
            + len(string_idx) + len(gsubr_idx)
        cs_off = base
        chst_off = base + len(charset)
        top = (b"\x1d" + struct.pack(">i", cs_off) + bytes([15])
               + b"\x1d" + struct.pack(">i", chst_off) + bytes([17]))
        topdict_idx = _idx([top])
    return CFFFont(header + name_idx + topdict_idx + string_idx
                   + gsubr_idx + charset + charstrings)


def test_synthetic_square_rlineto():
    # 10 10 rmoveto  100? out of small range -> use 100 (fits 107)
    cs = (_n(10) + _n(10) + b"\x15"
          + _n(100) + _n(0) + _n(0) + _n(100) + _n(-100) + _n(0) + b"\x05"
          + b"\x0e")
    f = _mini_cff(cs)
    assert f.nglyphs == 2
    assert f.glyph_name(1) == "A"
    assert f.glyph_id(ord("A")) == 1
    (cont,) = f.glyph_outline(1)
    assert [(x, y) for (x, y, on) in cont] == [
        (10.0, 10.0), (110.0, 10.0), (110.0, 110.0), (10.0, 110.0)]
    assert all(on for (_x, _y, on) in cont)


def test_synthetic_width_prefix_dropped():
    # leading width operand on the first stack-clearing operator
    cs = (_n(60) + _n(10) + _n(10) + b"\x15"
          + _n(50) + _n(0) + _n(0) + _n(50) + _n(-50) + _n(0) + b"\x05"
          + b"\x0e")
    (cont,) = _mini_cff(cs).glyph_outline(1)
    assert (cont[0][0], cont[0][1]) == (10.0, 10.0)
    assert (cont[1][0], cont[1][1]) == (60.0, 10.0)


def test_synthetic_hlineto_vlineto_alternation():
    cs = (_n(0) + _n(0) + b"\x15"
          + _n(40) + _n(40) + _n(-40) + b"\x06"  # h, v, h
          + b"\x0e")
    (cont,) = _mini_cff(cs).glyph_outline(1)
    assert [(x, y) for (x, y, _on) in cont] == [
        (0.0, 0.0), (40.0, 0.0), (40.0, 40.0), (0.0, 40.0)]


def test_synthetic_hvcurveto_trailing_arg():
    # hvcurveto 10 20 30 40 50: c1=(10,0) c2=(30,30) end=(80,70)
    cs = (_n(0) + _n(0) + b"\x15"
          + _n(10) + _n(20) + _n(30) + _n(40) + _n(50) + b"\x1f"
          + _n(0) + _n(-70) + b"\x05"
          + b"\x0e")
    (cont,) = _mini_cff(cs).glyph_outline(1)
    xs = [(round(x, 6), round(y, 6)) for (x, y, _on) in cont]
    assert xs[0] == (0.0, 0.0)
    assert (80.0, 70.0) in xs  # curve endpoint honors the 5th arg
    assert xs[-1] == (80.0, 0.0)


def test_synthetic_endchar_inside_subr_terminates():
    # local subrs need a Private DICT; use a gsubr instead? gsubrs have
    # bias -107 at small counts: callgsubr with index -107 -> gsubr[0].
    header = bytes([1, 0, 4, 1])
    name_idx = _idx([b"T"])
    string_idx = _idx([])
    gsubr = (_n(0) + _n(0) + b"\x15" + _n(30) + _n(0) + _n(0) + _n(30)
             + _n(-30) + _n(0) + b"\x05" + b"\x0e")
    gsubr_idx = _idx([gsubr])
    charstrings = _idx([b"\x0e", _n(-107) + bytes([29])  # callgsubr[0]
                        + _n(99) + _n(99) + b"\x15"])  # dead code
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
    (cont,) = f.glyph_outline(1)
    # endchar inside the gsubr stops execution: the dead rmoveto after
    # callgsubr must NOT open a second contour
    assert [(x, y) for (x, y, _on) in cont] == [
        (0.0, 0.0), (30.0, 0.0), (30.0, 30.0), (0.0, 30.0)]


# -- end-to-end render ---------------------------------------------------

def test_cff_glyphs_in_render(monkeypatch):
    """issue-316 pages carry only /FontFile3 fonts: renders must stamp
    real CFF outlines (differential vs the bitmap-only fallback)."""
    import hashlib

    from pdfplumber_spark import api
    from pdfplumber_spark.kernel import pdfparse

    path = PDFS + "issue-316-example.pdf"
    png1 = api.open(path).pages[0].to_image(resolution=72)._repr_png_()
    png2 = api.open(path).pages[0].to_image(resolution=72)._repr_png_()
    assert hashlib.sha256(png1).hexdigest() == hashlib.sha256(png2).hexdigest()
    monkeypatch.setattr(
        pdfparse.Font, "glyph_font", lambda self, doc: None)
    png3 = api.open(path).pages[0].to_image(resolution=72)._repr_png_()
    assert png3 != png1


def test_cid_keyed_render_uses_charset_mapping(monkeypatch):
    """CID-keyed CFFs render through the inverted charset (interp.ch_cid
    join on char_index), not the unicode fallback: disabling cid_to_gid
    must change the issue-598 render."""
    from pdfplumber_spark import api
    from pdfplumber_spark.kernel import pdfparse

    path = PDFS + "issue-598-example.pdf"
    png1 = api.open(path).pages[0].to_image(resolution=72)._repr_png_()
    monkeypatch.setattr(
        pdfparse.Font, "cid_to_gid", lambda self, doc, gf, cid: None)
    png2 = api.open(path).pages[0].to_image(resolution=72)._repr_png_()
    assert png2 != png1


def test_gid_for_cid_inverts_charset():
    f = _fontfile3(PDFS + "issue-598-example.pdf")
    assert f.is_cid
    hits = sum(
        1 for cid in range(300) if f.gid_for_cid(cid) is not None)
    assert hits > 50
    # round-trip: charset[gid_for_cid(cid)] == cid
    for cid in range(300):
        g = f.gid_for_cid(cid)
        if g is not None:
            assert f.charset[g] == cid


def test_corpus_images_family_embeds_cff(monkeypatch):
    """Corpus v20: every pdf/images doc carries an /F2 embedded-CFF run
    AND an /F3 embedded-Type1 run on page 0, so the board's render rows
    drive the FontFile3 and FontFile paths."""
    import io
    import random

    from pdfplumber_spark import api
    from pdfplumber_spark.kernel import pdfparse
    from pdfplumber_spark.sources.corpus import _pdf_images

    payload = _pdf_images(random.Random(7))
    assert b"/Type1C" in payload and b"SynthEmbed" in payload
    assert b"/FontFile " in payload and b"SynthType1" in payload
    pg = api.open(io.BytesIO(payload)).pages[0]
    fonts = {c["fontname"] for c in pg.chars}
    assert {"SynthEmbed", "SynthType1"} <= fonts
    png1 = pg.to_image(resolution=72)._repr_png_()
    monkeypatch.setattr(
        pdfparse.Font, "glyph_font", lambda self, doc: None)
    png2 = api.open(io.BytesIO(payload)).pages[0] \
        .to_image(resolution=72)._repr_png_()
    assert png2 != png1  # embedded outlines actually stamped


def test_make_cff_font_covers_all_embed_chars():
    from pdfplumber_spark.kernel.pdfgen import EMBED_CHARS, make_cff_font

    f = CFFFont(make_cff_font())
    assert f.nglyphs == len(EMBED_CHARS) + 1
    for ch in EMBED_CHARS:
        gid = f.glyph_id(ord(ch))
        assert gid is not None, ch
        assert len(f.glyph_outline(gid)) == 1, ch


def test_malformed_cff_rejected():
    with pytest.raises(Exception):
        CFFFont(b"\x01\x00\x04\x01garbage")
    f = _mini_cff(_n(0) + _n(0) + b"\x15" + b"\x0e")
    assert f.glyph_outline(99) == []  # out-of-range gid is empty, no raise
