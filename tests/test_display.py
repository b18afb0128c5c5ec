"""Visual debug surface (round 5): from-scratch rasterizer + PNG writer +
reference display.py API parity (display.py:20-397). No PIL/pypdfium2
offline — the canvas and container are kernel/raster.py."""

import zlib
from io import BytesIO

import numpy as np
import pytest

import pdfplumber_spark.api as api
from pdfplumber_spark.kernel.raster import (
    Canvas, png_decode_size, png_encode,
)
from reforacle import REFERENCE

SCOTUS = f"{REFERENCE}/tests/pdfs/scotus-transcript-p1.pdf"
WARN = f"{REFERENCE}/tests/pdfs/WARN-Report-for-7-1-2015-to-03-25-2016.pdf"


def _png_pixels(png: bytes) -> np.ndarray:
    """Independent minimal PNG reader for the tests: parse chunks,
    inflate IDAT, undo filter 0 (the only filter the writer emits)."""
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    pos = 8
    w = h = None
    idat = b""
    while pos < len(png):
        ln = int.from_bytes(png[pos:pos + 4], "big")
        tag = png[pos + 4:pos + 8]
        data = png[pos + 8:pos + 8 + ln]
        crc = int.from_bytes(png[pos + 8 + ln:pos + 12 + ln], "big")
        assert crc == (zlib.crc32(tag + data) & 0xFFFFFFFF), "bad CRC"
        if tag == b"IHDR":
            w = int.from_bytes(data[0:4], "big")
            h = int.from_bytes(data[4:8], "big")
            assert data[8:13] == bytes([8, 2, 0, 0, 0])  # 8-bit RGB
        elif tag == b"IDAT":
            idat += data
        pos += 12 + ln
    raw = zlib.decompress(idat)
    stride = w * 3 + 1
    rows = []
    for r in range(h):
        line = raw[r * stride:(r + 1) * stride]
        assert line[0] == 0, "writer only emits filter 0"
        rows.append(np.frombuffer(line[1:], dtype=np.uint8).reshape(w, 3))
    return np.stack(rows)


def test_png_roundtrip_exact():
    rng = np.random.RandomState(1)
    arr = rng.randint(0, 256, (13, 29, 3), dtype=np.uint8)
    png = png_encode(arr)
    assert png_decode_size(png) == (29, 13)
    assert (_png_pixels(png) == arr).all()


def test_canvas_rect_blend_and_clip():
    c = Canvas(10, 10)
    c.fill_rect(2, 2, 5, 5, (0, 0, 255, 255))       # opaque blue
    assert (c.arr[3, 3] == [0, 0, 255]).all()
    c.fill_rect(-5, -5, 100, 1, (255, 0, 0, 255))   # clipped
    assert (c.arr[0, 0] == [255, 0, 0]).all()
    before = c.arr[3, 3].copy()
    c.fill_rect(2, 2, 5, 5, (255, 0, 0, 0))         # alpha 0 = no-op
    assert (c.arr[3, 3] == before).all()


def test_base_render_deterministic_and_sized():
    page = api.open(SCOTUS).pages[0]
    im1 = page.to_image(resolution=72)
    im2 = page.to_image(resolution=72)
    assert (im1.original.arr == im2.original.arr).all()
    assert png_decode_size(im1._repr_png_()) == (612, 792)
    # page is mostly white with structural char boxes: not blank
    assert (im1.original.arr < 250).any()
    hi = page.to_image(resolution=144)
    assert png_decode_size(hi._repr_png_()) == (1224, 1584)


def test_overlays_draw_and_reset(tmp_path):
    page = api.open(SCOTUS).pages[0]
    im = page.to_image()
    base = im.annotated.arr.copy()
    ret = im.outline_words()
    assert ret is im  # chaining, reference semantics
    assert (im.annotated.arr != base).any()
    # default stroke is red: red pixels must appear
    r = im.annotated.arr
    assert ((r[:, :, 0] > 200) & (r[:, :, 1] < 80) & (r[:, :, 2] < 80)).any()
    im.reset()
    assert (im.annotated.arr == base).all()
    # save to path and to buffer
    p = tmp_path / "out.png"
    im.draw_hline(400).draw_vline(300).save(p)
    assert png_decode_size(p.read_bytes()) == (612, 792)
    b = BytesIO()
    im.save(b)
    assert b.getvalue() == p.read_bytes()
    with pytest.raises(ValueError):
        im.save(b, format="JPEG")


def test_debug_tablefinder_draws_cells_and_intersections():
    page = api.open(WARN).pages[0]
    im = page.to_image()
    base = im.annotated.arr.copy()
    im.debug_tablefinder()
    diff = (im.annotated.arr != base).any(axis=2)
    # the WARN table spans most of the page: a substantial region changed
    assert diff.mean() > 0.05
    # blue circle strokes at intersections
    r = im.annotated.arr
    assert ((r[:, :, 2] > 200) & (r[:, :, 0] < 80)).any()


def test_decoded_raster_blits_real_pixels():
    from pdfplumber_spark.kernel.pdfgen import make_pdf

    pdf = make_pdf([{
        "width": 200, "height": 200,
        "texts": [{"x": 20, "top": 20, "size": 10, "text": "img"}],
        "images": [{"x": 40, "top": 60, "w": 100, "h": 100, "pw": 10,
                    "ph": 10, "seed": 9, "format": "ccitt", "channels": 1}],
    }])
    page = api.open(pdf).pages[0]
    arr = page.to_image().annotated.arr
    region = arr[61:159, 41:139]
    vals = np.unique(region)
    assert 0 in vals and 255 in vals  # real bi-level pixels, not a gray box
    # DCT fallback: gray placeholder box instead
    pdf2 = make_pdf([{
        "width": 200, "height": 200,
        "texts": [{"x": 20, "top": 20, "size": 10, "text": "img"}],
        "images": [{"x": 40, "top": 60, "w": 100, "h": 100, "pw": 6,
                    "ph": 6, "seed": 2, "format": "dct", "channels": 3}],
    }])
    arr2 = api.open(pdf2).pages[0].to_image().annotated.arr
    assert (arr2[100, 100] == [210, 210, 215]).all()


def test_cropped_page_renders_crop_region():
    """Reference display.py:120 semantics: a cropped page's image is the
    crop region, and equals the same slice of the full-page render."""
    page = api.open(SCOTUS).pages[0]
    crop = page.crop((100, 100, 400, 300))
    im = crop.to_image(resolution=72)
    assert png_decode_size(im._repr_png_()) == (300, 200)
    full = page.to_image(resolution=72)
    # exact in the interior; chars CLIPPED by the crop boundary stamp
    # their glyphs into the truncated box, so a ~1-char margin differs
    assert (im.original.arr[20:-20, 20:-20]
            == full.original.arr[120:280, 120:380]).all()
    # overlays reproject into crop coordinates: a rect at absolute
    # (150, 150) lands at pixel (50, 50)
    im.draw_rect((150, 150, 160, 160), fill=None, stroke=(0, 255, 0, 255))
    r = im.annotated.arr
    assert (r[50, 50] == [0, 255, 0]).all() or (r[50, 51] == [0, 255, 0]).all()


def test_truetype_glyphs_in_render(monkeypatch):
    """Round-6 stretch: pages whose fonts embed a /FontFile2 render REAL
    TrueType outlines (kernel/truetype.py), not 5x7 bitmaps. Pinned by a
    determinism check plus a differential against the bitmap-only path."""
    import hashlib

    from pdfplumber_spark import api
    from pdfplumber_spark.kernel import pdfparse

    path = f"{REFERENCE}/tests/pdfs/extra-attrs-example.pdf"
    page = api.open(path).pages[0]
    png1 = page.to_image(resolution=72)._repr_png_()
    png2 = api.open(path).pages[0].to_image(resolution=72)._repr_png_()
    assert hashlib.sha256(png1).hexdigest() == hashlib.sha256(png2).hexdigest()
    # differential: force the bitmap fallback; the render must change
    monkeypatch.setattr(pdfparse.Font, "truetype", lambda self, doc: None)
    png3 = api.open(path).pages[0].to_image(resolution=72)._repr_png_()
    assert png3 != png1


def test_truetype_glyph_rasterizer_shapes():
    """kernel/truetype.py parses the fixture's embedded subset font and
    rasterizes real outlines (non-trivial ink, inside the box)."""
    import re

    from pdfplumber_spark.kernel.pdfparse import PDFDocument
    from pdfplumber_spark.kernel.truetype import TrueTypeFont, rasterize_glyph

    data = open(f"{REFERENCE}/tests/pdfs/extra-attrs-example.pdf", "rb").read()
    doc = PDFDocument(data)
    num = int(re.search(rb"/FontFile2 (\d+) 0 R", data).group(1))
    f = TrueTypeFont(bytes(doc.get_object(num).get_data(doc)))
    assert f.units_per_em == 1000 and f.num_glyphs == 9
    # subset cmap covers exactly the glyphs the page uses
    assert set(map(chr, f._cmap)) == {"B", "R", "a", "c", "d", "e", "k", "l"}
    for ch in "BRacdekl":
        gid = f.glyph_id(ord(ch))
        mask = rasterize_glyph(f, gid, 24, 30)
        assert mask is not None and mask.any(), ch
        frac = mask.mean() / 255.0
        assert 0.02 < frac < 0.8, (ch, frac)


def test_chars_render_in_fill_color():
    """Glyphs stamp in the char's non-stroking color (reference renders
    text in fill color): NICS page 1 has (1,0,0) red chars, so the
    render must contain red-dominant pixels; black chars stay dark."""
    import numpy as np

    page = api.open(
        f"{REFERENCE}/tests/pdfs/nics-background-checks-2015-11.pdf"
    ).pages[0]
    assert any(
        tuple(c["non_stroking_color"] or ()) == (1, 0, 0)
        for c in page.chars
    )
    arr = page.to_image(resolution=72).original.arr
    r = arr[:, :, 0].astype(int)
    g = arr[:, :, 1].astype(int)
    b = arr[:, :, 2].astype(int)
    red_px = int(((r > 150) & (g < 110) & (b < 110)).sum())
    dark_px = int(((r < 90) & (g < 90) & (b < 90)).sum())
    assert red_px > 200  # red glyph ink present
    assert dark_px > 200  # black glyph ink still present


def test_rotated_chars_stamp_quarter_turned_glyphs():
    """90-degree text (matrix (0,-s,s,0)) stamps glyph masks rotated
    with the text: the rotated-NICS render must differ from stamping
    upright masks, deterministically."""
    import hashlib

    path = (f"{REFERENCE}/tests/pdfs/"
            "nics-background-checks-2015-11-rotated.pdf")
    h = [hashlib.sha256(
            api.open(path).pages[0].to_image(resolution=72)._repr_png_()
         ).hexdigest() for _ in range(2)]
    assert h[0] == h[1]
    # differential: neutralize the quarter-turn detection
    import pdfplumber_spark.display as disp
    page = api.open(path).pages[0]
    page._ca.extra["matrix"] = np.full(page._ca.n, None, dtype=object)
    h2 = hashlib.sha256(
        page.to_image(resolution=72)._repr_png_()).hexdigest()
    assert h2 != h[0]
