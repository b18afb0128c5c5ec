"""Type 1 (/FontFile) font parsing + charstring rendering.

Reference analogue: pdfplumber renders via pypdfium2 (display.py);
here kernel/type1.py decrypts eexec/charstrings (Adobe black book) and
feeds the shared scanline rasterizer.  issue-982-example.pdf embeds 16
real Type 1 programs (TeX CM + URW Nimbus) — the external validation
corpus.
"""

import re

import pytest

from pdfplumber_spark.kernel.pdfparse import PDFDocument
from pdfplumber_spark.kernel.truetype import rasterize_glyph
from pdfplumber_spark.kernel.type1 import Type1Error, Type1Font, _decrypt
from reforacle import REFERENCE

FIXTURE = f"{REFERENCE}/tests/pdfs/issue-982-example.pdf"


def _fonts():
    data = open(FIXTURE, "rb").read()
    doc = PDFDocument(data)
    nums = sorted(set(
        int(m) for m in re.findall(rb"/FontFile (\d+) 0 R", data)))
    for n in nums:
        st = doc.get_object(n)
        d = bytes(st.get_data(doc))
        name = re.search(rb"AdobeFont-1.0: (\S+)", d[:80]).group(1)
        yield (name.decode(), Type1Font(
            d, int(doc.resolve(st.attrs["Length1"])),
            int(doc.resolve(st.attrs["Length2"]))))


def test_all_16_real_type1_fonts_decode():
    fonts = list(_fonts())
    assert len(fonts) == 16
    total = inked = 0
    for name, f in fonts:
        assert f.units_per_em == 1000, name
        total += f.nglyphs
        inked += sum(
            1 for gid in range(f.nglyphs) if f.glyph_outline(gid))
    # every glyph except one blank (.notdef/space) per font has ink
    assert total == 336 and inked == 320


def test_nimbus_letters_rasterize():
    f = dict(_fonts())["NimbusRomNo9L-Regu"]
    g = f.glyph_id(ord("e"))
    assert len(f.glyph_outline(g)) == 2  # ring + counter
    for ch in "eQ&ta":
        gid = f.glyph_id(ord(ch))
        assert gid is not None, ch
        mask = rasterize_glyph(f, gid, 24, 30)
        assert mask is not None and mask.any(), ch
        frac = mask.mean() / 255.0
        assert 0.02 < frac < 0.8, (ch, frac)


def test_flex_and_hint_replacement_subrs_tolerated():
    # URW fonts use OtherSubrs flex + hint replacement heavily; a
    # near-total ink rate proves both protocols execute (a bad flex
    # leaves contours < 3 pts -> dropped -> blank glyphs)
    f = dict(_fonts())["NimbusMonL-Regu"]
    inked = sum(1 for gid in range(f.nglyphs) if f.glyph_outline(gid))
    assert inked == f.nglyphs - 1  # only the blank space glyph


# -- synthetic program: exact geometry -----------------------------------

def _encrypt(plain: bytes, r: int, pad: int = 4) -> bytes:
    data = b"\x00" * pad + plain
    out = bytearray()
    for p in data:
        c = p ^ (r >> 8)
        out.append(c)
        r = ((c + r) * 52845 + 22719) & 0xFFFF
    return bytes(out)


def test_decrypt_encrypt_roundtrip():
    payload = bytes(range(256))
    assert _decrypt(_encrypt(payload, 4330), 4330, 4) == payload
    assert _decrypt(_encrypt(payload, 55665), 55665, 4) == payload


def _mini_type1():
    # square: 0 100 hsbw; 10 10 rmoveto; 100 0 / 0 100 / -100 0 rlineto;
    # closepath endchar
    cs = bytes([139, 239, 13, 149, 149, 21, 239, 139, 5, 139, 239, 5,
                39, 139, 5, 9, 14])
    notdef = bytes([139, 139, 13, 14])
    enc_cs = _encrypt(cs, 4330)
    enc_nd = _encrypt(notdef, 4330)
    priv = (b"dup /Private 5 dict dup begin\n"
            b"/RD {string currentfile exch readstring pop} executeonly def\n"
            b"/ND {noaccess def} executeonly def\n"
            b"/CharStrings 2 dict dup begin\n"
            b"/.notdef " + str(len(enc_nd)).encode() + b" RD " + enc_nd
            + b" ND\n"
            b"/A " + str(len(enc_cs)).encode() + b" RD " + enc_cs
            + b" ND\nend\nend\n")
    clear = (b"%!PS-AdobeFont-1.0: Mini 1.0\n"
             b"/FontMatrix [0.001 0 0 0.001 0 0] readonly def\n"
             b"/Encoding StandardEncoding def\n"
             b"currentfile eexec\n")
    enc = _encrypt(priv, 55665)
    return Type1Font(clear + enc, len(clear), len(enc))


def test_synthetic_square_geometry():
    f = _mini_type1()
    assert f.nglyphs == 2
    gid = f.glyph_id(ord("A"))
    assert gid == 1 and f.glyph_name(1) == "A"
    (cont,) = f.glyph_outline(1)
    assert [(x, y) for (x, y, on) in cont] == [
        (10.0, 10.0), (110.0, 10.0), (110.0, 110.0), (10.0, 110.0)]
    assert all(on for (_x, _y, on) in cont)
    assert f.glyph_outline(0) == []  # .notdef is blank


def test_hsbw_sets_sidebearing_origin():
    # 25 100 hsbw; 0 0 rmoveto; 50 0 rlineto; 0 50 rlineto; closepath
    cs = bytes([164, 239, 13, 139, 139, 21, 189, 139, 5, 139, 189, 5,
                89, 139, 5, 9, 14])
    enc_cs = _encrypt(cs, 4330)
    priv = (b"/RD {string currentfile exch readstring pop} executeonly def\n"
            b"/CharStrings 1 dict dup begin\n"
            b"/A " + str(len(enc_cs)).encode() + b" RD " + enc_cs
            + b" ND\nend\n")
    clear = b"/FontMatrix [0.001 0 0 0.001 0 0] def\ncurrentfile eexec\n"
    enc = _encrypt(priv, 55665)
    f = Type1Font(clear + enc, len(clear), len(enc))
    (cont,) = f.glyph_outline(0)
    assert (cont[0][0], cont[0][1]) == (25.0, 0.0)  # origin at sbx


def test_generated_type1_matches_cff_outlines():
    """pdfgen emits the SAME glyph geometry as Type 1 and as CFF; the
    two independent decoders (type1.py eexec+T1 charstrings vs cff.py
    Type 2 charstrings) must recover identical outlines — a
    cross-engine differential over the full embed set."""
    from pdfplumber_spark.kernel.cff import CFFFont
    from pdfplumber_spark.kernel.pdfgen import (
        EMBED_CHARS, make_cff_font, make_type1_font)

    t1 = Type1Font(make_type1_font())
    cf = CFFFont(make_cff_font())
    assert t1.nglyphs == cf.nglyphs == len(EMBED_CHARS) + 1
    for ch in EMBED_CHARS:
        o1 = t1.glyph_outline(t1.glyph_id(ord(ch)))
        o2 = cf.glyph_outline(cf.glyph_id(ord(ch)))
        assert [(x, y) for x, y, _ in o1[0]] == \
               [(x, y) for x, y, _ in o2[0]], ch


def test_malformed_type1_rejected():
    with pytest.raises(Type1Error):
        Type1Font(b"no eexec here at all")


def test_render_differential_issue982(monkeypatch):
    """issue-982 pages render real Type 1 outlines (differential vs the
    bitmap-only fallback), deterministically."""
    import hashlib

    from pdfplumber_spark import api
    from pdfplumber_spark.kernel import pdfparse

    png1 = api.open(FIXTURE).pages[0].to_image(resolution=72)._repr_png_()
    png2 = api.open(FIXTURE).pages[0].to_image(resolution=72)._repr_png_()
    assert hashlib.sha256(png1).hexdigest() == hashlib.sha256(png2).hexdigest()
    monkeypatch.setattr(
        pdfparse.Font, "glyph_font", lambda self, doc: None)
    png3 = api.open(FIXTURE).pages[0].to_image(resolution=72)._repr_png_()
    assert png3 != png1
