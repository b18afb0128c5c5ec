"""PDF-embedded image XObject pixel decode (kernel/images.py +
operators/multimodal.pdf_image_stats) — round-3 verdict ask #4.

The writer (kernel/pdfgen.py) and the decoder share only the
``image_pixel`` sample definition; the decode goes through the real PDF
object graph + stream-filter pipeline.
"""

import numpy as np
import pytest

from pdfplumber_spark.kernel.images import image_xobjects
from pdfplumber_spark.kernel.pdfgen import image_pixel, image_samples, make_pdf
from pdfplumber_spark.kernel.pdfparse import Ref
from pdfplumber_spark.kernel.pdfwrite import write_pdf
from reforacle import REFERENCE


def _objs_pdf(objs: list) -> bytes:
    """Bodies numbered from 1, the catalog first."""
    return write_pdf(b"%PDF-1.5\n", dict(enumerate(objs, 1)), {"Root": Ref(1, 0)})


def _pdf(images, texts=()):
    return make_pdf(
        [
            {
                "width": 612,
                "height": 792,
                "texts": list(texts)
                or [{"x": 72, "top": 72, "size": 12, "text": "img page"}],
                "images": images,
            }
        ]
    )


def test_rgb_flate_roundtrip_exact_bytes():
    pdf = _pdf([{"x": 100, "top": 150, "w": 96, "h": 64,
                 "pw": 6, "ph": 4, "channels": 3, "seed": 7}])
    (im,) = image_xobjects(pdf)
    assert (im["status"], im["width"], im["height"], im["channels"]) == (
        "ok", 6, 4, 3)
    assert im["samples"] == image_samples(7, 6, 4, 3)
    # spot-check the layout: row-major interleaved
    arr = np.frombuffer(im["samples"], np.uint8).reshape(4, 6, 3)
    assert arr[2, 3, 1] == image_pixel(7, 2, 3, 1)


def test_gray_and_multi_image_page_ordering():
    pdf = _pdf(
        [
            {"x": 100, "top": 150, "w": 50, "h": 50, "pw": 5, "ph": 5,
             "channels": 1, "seed": 3},
            {"x": 300, "top": 150, "w": 50, "h": 50, "pw": 4, "ph": 6,
             "channels": 3, "seed": 11},
        ]
    )
    ims = image_xobjects(pdf)
    assert [(i["name"], i["image_index"]) for i in ims] == [
        ("Im0", 0), ("Im1", 1)]
    assert ims[0]["colorspace"] == "DeviceGray"
    assert ims[0]["samples"] == image_samples(3, 5, 5, 1)
    assert ims[1]["samples"] == image_samples(11, 4, 6, 3)


def test_dct_classified_unsupported():
    pdf = _pdf([{"x": 100, "top": 150, "w": 50, "h": 50, "pw": 8, "ph": 8,
                 "channels": 3, "seed": 9, "format": "dct"}])
    (im,) = image_xobjects(pdf)
    assert im["status"] == "unsupported"
    assert im["samples"] is None
    assert (im["width"], im["height"]) == (8, 8)  # header still parsed


def test_truncated_stream_is_error():
    pdf = _pdf([{"x": 100, "top": 150, "w": 50, "h": 50, "pw": 8, "ph": 8,
                 "channels": 3, "seed": 5}])
    # corrupt the flate body: find the image stream and chop bytes out
    import re

    m = re.search(rb"/Subtype/Image.*?stream\r?\n", pdf, re.S)
    start = m.end()
    broken = pdf[: start + 4] + pdf[start + 30:]
    ims = image_xobjects(broken)
    assert len(ims) == 1
    assert ims[0]["status"] in ("error", "unsupported")


def test_pdf_image_stats_operator(spark):
    """Distributed stats over a two-doc frame: exact int-sum/count means."""
    from pdfplumber_spark.operators.multimodal import pdf_image_stats

    pdf1 = _pdf([{"x": 100, "top": 150, "w": 96, "h": 64, "pw": 6, "ph": 4,
                  "channels": 3, "seed": 7}])
    pdf2 = _pdf([{"x": 100, "top": 150, "w": 50, "h": 50, "pw": 5, "ph": 5,
                  "channels": 1, "seed": 3}])
    df = spark.createDataFrame(
        [("u1", bytearray(pdf1)), ("u2", bytearray(pdf2)), ("u3", None)],
        "url string, html binary",
    )
    rows = {r["url"]: r for r in pdf_image_stats(df).collect()}
    assert set(rows) == {"u1", "u2"}

    s = image_samples(7, 6, 4, 3)
    for ch, col in enumerate(["mean_c0", "mean_c1", "mean_c2"]):
        exp = round(sum(s[ch::3]) / 24, 6)
        assert rows["u1"][col] == exp
    assert rows["u1"]["min_val"] == min(s)
    assert rows["u1"]["max_val"] == max(s)

    g = image_samples(3, 5, 5, 1)
    assert rows["u2"]["mean_c0"] == round(sum(g) / 25, 6)
    assert rows["u2"]["mean_c1"] is None
    assert rows["u2"]["channels"] == 1


def test_corpus_images_family_present_and_decodable():
    """Corpus v9 must contain pdf/images docs whose Flate images decode."""
    import pyarrow.parquet as pq

    from pdfplumber_spark.sources.corpus import corpus_path_for_sf

    t = pq.read_table(corpus_path_for_sf("/root/testdata/sf0.01"))
    fams = [u for u in t.column("url").to_pylist() if "pdf/images" in u]
    assert fams, "corpus v9 must include the pdf/images family"
    payloads = dict(
        zip(t.column("url").to_pylist(), t.column("html").to_pylist())
    )
    n_ok = n_unsup = 0
    for u in fams:
        for im in image_xobjects(bytes(payloads[u])):
            if im["status"] == "ok":
                n_ok += 1
                assert len(im["samples"]) == (
                    im["width"] * im["height"] * im["channels"]
                )
            elif im["status"] == "unsupported":
                n_unsup += 1
    assert n_ok > 0, "decodable Flate images must exist"
    assert n_unsup > 0, "DCT 'unsupported' rows must exist"


def test_subbyte_gray_depths_roundtrip():
    """1/2/4-bit DeviceGray: MSB-first packing with per-row byte padding
    (widths chosen so every row has dangling bits)."""
    from pdfplumber_spark.kernel.pdfgen import image_codes

    specs = [(1, 7, 5, 4), (2, 9, 4, 5), (4, 5, 5, 6)]
    images = [
        {"x": 80 + 110 * i, "top": 150, "w": 60, "h": 40,
         "pw": pw, "ph": ph, "channels": 1, "bits": bits, "seed": seed}
        for i, (bits, pw, ph, seed) in enumerate(specs)
    ]
    ims = image_xobjects(_pdf(images))
    assert [i["status"] for i in ims] == ["ok"] * 3
    for im, (bits, pw, ph, seed) in zip(ims, specs):
        assert (im["bits"], im["colorspace"]) == (bits, "DeviceGray")
        assert list(im["samples"]) == image_codes(seed, pw, ph, 1, 1 << bits)


def test_indexed_palette_expands_to_base_colorspace():
    from pdfplumber_spark.kernel.pdfgen import image_codes

    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30),
           (200, 200, 200)]
    ims = image_xobjects(
        _pdf([{"x": 80, "top": 300, "w": 60, "h": 40, "pw": 6, "ph": 6,
               "bits": 4, "seed": 8, "palette": pal}])
    )
    (im,) = ims
    assert im["colorspace"] == "Indexed(DeviceRGB)"
    assert im["channels"] == 3
    idx = image_codes(8, 6, 6, 1, len(pal))
    assert im["samples"] == b"".join(bytes(pal[i]) for i in idx)


def test_out_of_range_palette_index_is_error():
    """An index past hival must not crash or silently wrap."""
    from pdfplumber_spark.kernel.pdfgen import make_pdf
    import re

    pdf = _pdf([{"x": 80, "top": 300, "w": 60, "h": 40, "pw": 4, "ph": 4,
                 "bits": 8, "seed": 8,
                 "palette": [(0, 0, 0), (255, 255, 255)]}])
    # shrink the declared palette to hival 0 so generated indices overflow
    broken = pdf.replace(b"/Indexed/DeviceRGB 1 <", b"/Indexed/DeviceRGB 0 <")
    # (hival isn't even read from the dict — the lookup length rules)
    broken = broken.replace(b"000000FFFFFF", b"000000")
    (im,) = image_xobjects(broken)
    assert im["status"] == "error"


# --- CCITT Group 4 (round-5; kernel/ccitt.py; ITU T.4/T.6 via ISO 32000
# §7.4.6) ------------------------------------------------------------------

def _unpack_bits(data, w, h):
    rb = (w + 7) // 8
    arr = np.frombuffer(data, dtype=np.uint8).reshape(h, rb)
    return np.unpackbits(arr, axis=1)[:, :w]


def test_ccitt_mh_table_anchors():
    """Spot-pin well-known ITU T.4 codes so a transcription typo in the
    shared tables can't hide behind encoder/decoder self-consistency."""
    from pdfplumber_spark.kernel.ccitt import (
        _BLACK_CODES, _EOL, _WHITE_CODES,
    )

    white = dict(_WHITE_CODES)
    black = dict(_BLACK_CODES)
    # T.4 table 1 (white): runs with famous short codes
    assert white[2] == "0111" and white[3] == "1000"
    assert white[64] == "11011" and white[128] == "10010"
    assert white[1664] == "011000" and white[0] == "00110101"
    # T.4 table 2 (black)
    assert black[1] == "010" and black[2] == "11" and black[3] == "10"
    assert black[64] == "0000001111" and black[0] == "0000110111"
    assert _EOL == "000000000001"
    # prefix-freeness per colour table (a violated prefix would make some
    # stream undecodable in a data-dependent way)
    for codes in (_WHITE_CODES, _BLACK_CODES):
        bits = [b for _, b in codes]
        for i, a in enumerate(bits):
            for j, b in enumerate(bits):
                if i != j:
                    assert not b.startswith(a), (a, b)


def test_ccitt_g4_roundtrip_adaptive_modes():
    from pdfplumber_spark.kernel.ccitt import (
        ccitt_g4_encode, ccittfax_decode,
    )

    rng = np.random.RandomState(3)
    for w, h in [(8, 4), (23, 11), (64, 16), (1728, 6)]:
        img = (rng.rand(h, w) < 0.35).astype(np.uint8)
        img[0, :] = 0
        if h > 1:
            img[1, :] = 1
        enc = ccitt_g4_encode(img, w, h)
        dec = ccittfax_decode(enc, columns=w, rows=h, k=-1)
        assert (_unpack_bits(dec, w, h) == 1 - img).all()  # 0 = black
        dec1 = ccittfax_decode(enc, columns=w, rows=h, k=-1, black_is_1=True)
        assert (_unpack_bits(dec1, w, h) == img).all()


def test_ccitt_g4_known_bitstream():
    """Pin the exact encoded bits of a tiny image so BOTH codec sides are
    anchored to one concrete stream: row0 all-white (V0 against the
    imaginary white reference), row1 white3/black2/white3 (horizontal +
    vertical codes)."""
    from pdfplumber_spark.kernel.ccitt import ccitt_g4_encode, ccittfax_decode

    img = np.array([[0] * 8, [0, 0, 0, 1, 1, 0, 0, 0]], dtype=np.uint8)
    enc = ccitt_g4_encode(img, 8, 2)
    bits = "".join(f"{b:08b}" for b in enc)
    # row0: V0 ("1"); row1: horizontal "001" + white3 "1000" + black2 "11",
    # then V0 against b1=8 (end); EOFB; zero padding
    expect = "1" + "001" + "1000" + "11" + "1" + "000000000001" * 2
    assert bits.startswith(expect), bits
    dec = ccittfax_decode(enc, columns=8, rows=2, k=-1)
    assert (_unpack_bits(dec, 8, 2) == 1 - img).all()


def test_ccitt_g3_1d_decode():
    """K=0 rows are plain MH runs; encode one by hand from the tables."""
    from pdfplumber_spark.kernel.ccitt import ccittfax_decode

    # one row, width 10: white 4 ("1011"), black 3 ("10"), white 3 ("1000")
    bits = "1011" + "10" + "1000"
    bits += "0" * ((-len(bits)) % 8)
    data = bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
    dec = ccittfax_decode(data, columns=10, rows=1, k=0)
    row = _unpack_bits(dec, 10, 1)[0]
    assert list(row) == [1, 1, 1, 1, 0, 0, 0, 1, 1, 1]  # 0 = black


def test_ccitt_pdf_fixture_end_to_end():
    """Generator -> engine filter chain -> stats codes == the shared
    deterministic ground truth; DCT stays unsupported beside it."""
    from pdfplumber_spark.kernel.pdfgen import image_codes

    pdf = make_pdf([{
        "width": 612, "height": 792,
        "texts": [{"x": 72, "top": 72, "size": 12, "text": "x"}],
        "images": [
            {"x": 72, "top": 150, "w": 100, "h": 80, "pw": 13, "ph": 9,
             "seed": 42, "format": "ccitt", "channels": 1},
            {"x": 300, "top": 150, "w": 60, "h": 60, "pw": 6, "ph": 6,
             "seed": 5, "format": "dct", "channels": 3},
        ],
    }])
    rows = {r["name"]: r for r in image_xobjects(pdf)}
    cc = rows["Im0"]
    assert (cc["status"], cc["bits"], cc["colorspace"]) == ("ok", 1, "DeviceGray")
    assert list(cc["samples"]) == image_codes(42, 13, 9, 1, 2)
    assert rows["Im1"]["status"] == "unsupported"


def test_ccitt_oracle_decoder_differential():
    """The expected.py pixel-fill G4 decoder and the kernel bit-reader
    decoder must agree on random images (they share only the code
    tables)."""
    from pdfplumber_spark.kernel.ccitt import ccitt_g4_encode, ccittfax_decode
    from pdfplumber_spark.sources.expected import _oracle_g4_rows

    rng = np.random.RandomState(11)
    for w, h in [(7, 5), (31, 13), (128, 9)]:
        img = (rng.rand(h, w) < 0.5).astype(np.uint8)
        enc = ccitt_g4_encode(img, w, h)
        kernel_bits = _unpack_bits(
            ccittfax_decode(enc, columns=w, rows=h, k=-1, black_is_1=True),
            w, h,
        )
        oracle_rows = np.array(_oracle_g4_rows(enc, w, h), dtype=np.uint8)
        assert (kernel_bits == img).all()
        assert (oracle_rows == img).all()


def test_ccitt_k_positive_mixed_mode_decodes():
    """K > 0 (mixed G3-2D, T.4 §4.2.1.3.4): every row is EOL + a 1-bit
    tag choosing 1-D MH or 2-D coding. Hand-build a 2-row stream: row 0
    1-D (white4 black2 white2), row 1 2-D V0s (copies row 0)."""
    from pdfplumber_spark.kernel.ccitt import ccittfax_decode

    eol = "000000000001"
    row_1d = "1011" + "11" + "0111"          # white4=1011 black2=11 white2=0111
    row_2d = "1" * 3                          # V0 at each of 3 transitions... 
    # row 0 transitions (to-black at 4, to-white at 6); row 1 identical:
    # V0 on b1=4 (color flips to black), V0 on b1=6 (to white), then a0=6
    # color white, b1=columns=8 -> V0 ends the row
    bits = eol + "1" + row_1d + eol + "0" + row_2d
    bits += "0" * ((-len(bits)) % 8)
    data = bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
    dec = ccittfax_decode(data, columns=8, rows=2, k=2)
    rows = _unpack_bits(dec, 8, 2)
    # PDF default polarity: black -> 0
    assert list(rows[0]) == [1, 1, 1, 1, 0, 0, 1, 1]
    assert (rows[1] == rows[0]).all()
    # rows=0 with K>0 must raise (no EOFB exists in mixed mode)
    import pytest as _pytest
    from pdfplumber_spark.kernel.ccitt import CCITTError

    with _pytest.raises(CCITTError):
        ccittfax_decode(data, columns=8, rows=0, k=2)


def _minimal_pdf_multi_paint():
    """Hand-built PDF: /Im0 painted twice on the page + once inside a Form
    XObject — reference page.images semantics = 3 rows (paint order),
    resource enumeration would say 1."""
    img_raw = bytes([10, 20, 30, 40])  # 2x2 gray
    import zlib

    body = zlib.compress(img_raw)
    objs = []
    objs.append(b"<</Type/Catalog/Pages 2 0 R>>")
    objs.append(b"<</Type/Pages/Kids[3 0 R]/Count 1>>")
    objs.append(
        b"<</Type/Page/Parent 2 0 R/MediaBox[0 0 200 200]"
        b"/Resources<</XObject<</Im0 4 0 R/Fm0 5 0 R>>>>/Contents 6 0 R>>"
    )
    objs.append(
        b"<</Type/XObject/Subtype/Image/Width 2/Height 2"
        b"/ColorSpace/DeviceGray/BitsPerComponent 8/Filter/FlateDecode"
        b"/Length %d>>\nstream\n%s\nendstream" % (len(body), body)
    )
    form_content = b"q 10 0 0 10 100 100 cm /Im0 Do Q"
    objs.append(
        b"<</Type/XObject/Subtype/Form/BBox[0 0 200 200]"
        b"/Resources<</XObject<</Im0 4 0 R>>>>/Length %d>>"
        b"\nstream\n%s\nendstream" % (len(form_content), form_content)
    )
    content = (
        b"q 20 0 0 20 10 10 cm /Im0 Do Q "
        b"q 20 0 0 20 50 50 cm /Im0 Do Q "
        b"/Fm0 Do"
    )
    objs.append(b"<</Length %d>>\nstream\n%s\nendstream"
                % (len(content), content))
    return _objs_pdf(objs)


def test_paint_order_multi_paint_and_form_nesting():
    """Reference parity (page.py images): one row PER Do invocation, in
    content-stream order, including paints from inside Form XObjects."""
    pdf = _minimal_pdf_multi_paint()
    rows = image_xobjects(pdf)
    assert len(rows) == 3
    assert [r["image_index"] for r in rows] == [0, 1, 2]
    assert {r["name"] for r in rows} == {"Im0"}
    for r in rows:
        assert r["status"] == "ok"
        assert list(r["samples"]) == [10, 20, 30, 40]


def test_ccitt_hypothesis_roundtrip():
    """Property: any 0/1 matrix G4-encodes and decodes back exactly
    (both polarities), across widths that straddle byte boundaries."""
    from hypothesis import given, settings, strategies as st

    from pdfplumber_spark.kernel.ccitt import ccitt_g4_encode, ccittfax_decode

    @settings(max_examples=120, deadline=None)
    @given(
        w=st.integers(1, 80),
        h=st.integers(1, 12),
        seed=st.integers(0, 2**31),
        density=st.sampled_from([0.05, 0.5, 0.95]),
    )
    def prop(w, h, seed, density):
        rng = np.random.RandomState(seed % (2**31))
        img = (rng.rand(h, w) < density).astype(np.uint8)
        enc = ccitt_g4_encode(img, w, h)
        dec = ccittfax_decode(enc, columns=w, rows=h, k=-1, black_is_1=True)
        assert (_unpack_bits(dec, w, h) == img).all()

    prop()


def test_real_world_acrobat_g4_masks_decode():
    """EXTERNAL validation of the G4 decoder: issue-203-decimalize.pdf's
    stencil masks are real Acrobat-encoded CCITT K=-1 streams (Rows
    omitted — Height governs). All must decode as ImageMask rows; pinned
    black-pixel counts guard the code tables against regressions that
    encoder/decoder self-consistency could never catch."""
    data = open(
        f"{REFERENCE}/tests/pdfs/issue-203-decimalize.pdf", "rb"
    ).read()
    rows = image_xobjects(data)
    by_status = {}
    for r in rows:
        by_status.setdefault(r["status"], []).append(r)
    # 23 CCITT masks + (since the baseline-JPEG decoder) the 3 Flate+DCT
    # base scans: every raster in the document decodes
    assert len(by_status.get("ok", [])) == 26
    assert "unsupported" not in by_status
    assert "error" not in by_status
    scans = [r for r in by_status["ok"] if r["colorspace"] == "DeviceRGB"]
    assert len(scans) == 3
    for r in scans:  # white-background page scans
        import numpy as np

        s = np.frombuffer(r["samples"], dtype=np.uint8)
        assert s.mean() > 200, s.mean()
    pinned = {
        (1, "Ma0"): (8, 25, 107),      # (w, h, black pixels)
        (1, "Ma8"): (8, 7, 16),
        (1, "Ma11"): (656, 97, 15167),
        (2, "Ma0"): (1648, 2652, 50094),
        (3, "Ma0"): (1560, 1716, 2688),
    }
    seen = {}
    for r in by_status["ok"]:
        key = (r["page_number"], r["name"])
        if key in pinned:
            s = r["samples"]
            seen[key] = (r["width"], r["height"], len(s) - sum(s))
            assert r["colorspace"] == "ImageMask" and r["bits"] == 1
    assert seen == pinned


def _inline_image_pdf():
    import zlib as _zlib

    img_gray = bytes([10, 200, 30, 120])              # 2x2 8-bit gray
    rgb_fl = _zlib.compress(bytes(range(27)))         # 3x3 RGB, Flate
    content = (
        b"q 20 0 0 20 10 10 cm BI /W 2 /H 2 /BPC 8 /CS /G ID "
        + img_gray + b" EI Q "
        b"q 30 0 0 30 60 60 cm BI /W 3 /H 3 /BPC 8 /CS /RGB /F /Fl /L "
        + str(len(rgb_fl)).encode() + b" ID " + rgb_fl + b" EI Q "
        b"q 10 0 0 10 120 120 cm BI /W 8 /H 2 /BPC 1 /IM true ID "
        + bytes([0b10101010, 0b01010101]) + b" EI Q"
    )
    objs = [
        b"<</Type/Catalog/Pages 2 0 R>>",
        b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
        b"<</Type/Page/Parent 2 0 R/MediaBox[0 0 200 200]/Contents 4 0 R>>",
        b"<</Length %d>>\nstream\n%s\nendstream" % (len(content), content),
    ]
    return _objs_pdf(objs)


def test_inline_images_parse_and_decode():
    """BI..ID..EI inline images (ISO 32000 §8.9.7, round 5): one paint-
    order row per BI, abbreviated keys/colorspaces/filters expanded,
    data extent from row arithmetic (unfiltered), /L (filtered), with
    the whitespace-guarded EI scan as fallback. Reference parity:
    pdfminer renders inline images as LTImage objects too."""
    rows = image_xobjects(_inline_image_pdf())
    assert [r["name"] for r in rows] == ["Inline"] * 3
    assert [r["image_index"] for r in rows] == [0, 1, 2]
    gray, rgb, mask = rows
    assert (gray["status"], gray["colorspace"]) == ("ok", "DeviceGray")
    assert list(gray["samples"]) == [10, 200, 30, 120]
    assert (rgb["status"], rgb["colorspace"]) == ("ok", "DeviceRGB")
    assert list(rgb["samples"]) == list(range(27))
    assert (mask["status"], mask["colorspace"]) == ("ok", "ImageMask")
    assert list(mask["samples"])[:8] == [1, 0, 1, 0, 1, 0, 1, 0]
    # interpreter emits them as page.images rows without char corruption
    from pdfplumber_spark.kernel.pdfparse import parse_pdf

    (interp,) = parse_pdf(_inline_image_pdf(), style=False)
    assert len(interp.images) == 3


# --- baseline JPEG (round-5; kernel/jpeg.py; ITU T.81) ----------------------

def test_jpeg_roundtrip_exact_and_near():
    from pdfplumber_spark.kernel.jpeg import jpeg_decode, jpeg_encode_gray

    solid = np.full((8, 8), 200, dtype=np.uint8)
    d = jpeg_decode(jpeg_encode_gray(solid))
    assert (d["samples"][:, :, 0] == solid).all()  # DC-only: exact
    grad = np.linspace(0, 255, 16 * 24).reshape(16, 24).astype(np.uint8)
    d = jpeg_decode(jpeg_encode_gray(grad))
    assert np.abs(d["samples"][:, :, 0].astype(int)
                  - grad.astype(int)).max() <= 1
    rng = np.random.RandomState(4)
    noise = rng.randint(0, 256, (13, 21), dtype=np.uint8)  # odd dims
    d = jpeg_decode(jpeg_encode_gray(noise))
    assert (d["width"], d["height"]) == (21, 13)
    assert np.abs(d["samples"][:, :, 0].astype(int)
                  - noise.astype(int)).max() <= 1


def test_jpeg_real_world_fixture_streams():
    """Every surveyed DCT stream in the fixture corpus is SOF0 baseline;
    decode a spread and pin dimensions + scan-plausibility stats."""
    from pdfplumber_spark.kernel.jpeg import jpeg_decode
    from pdfplumber_spark.kernel.pdfparse import PDFDocument

    cases = [
        ("issue-67-example.pdf", "IM19", 148, 90),
        ("pr-88-example.pdf", "Im1", 290, 136),
        ("2023-06-20-PV.pdf", "Im0", 256, 183),
    ]
    for fn, name, w, h in cases:
        data = open(f"{REFERENCE}/tests/pdfs/{fn}", "rb").read()
        doc = PDFDocument(data)
        got = None
        for spec in doc.pages():
            xd = doc.resolve(
                (doc.resolve(spec.get("Resources")) or {}).get("XObject")
            ) or {}
            if name in xd:
                got = doc.resolve(xd[name]).get_data(doc)
                break
        assert got is not None, (fn, name)
        d = jpeg_decode(got)
        assert (d["width"], d["height"], d["n_components"]) == (w, h, 3)
        assert 0 < d["samples"].mean() < 255


def test_jpeg_unsupported_classifications():
    from pdfplumber_spark.kernel.jpeg import JPEGError, jpeg_decode

    with pytest.raises(JPEGError):
        jpeg_decode(b"\xff\xd8\xff\xe0" + bytes(range(64)))  # fake JPEG
    # SOF2 with no scan data is MALFORMED (progressive itself decodes
    # since round 6), still a JPEGError
    prog = (b"\xff\xd8"
            b"\xff\xc2\x00\x0b\x08\x00\x08\x00\x08\x01\x01\x11\x00")
    with pytest.raises(JPEGError):
        jpeg_decode(prog)
    # arithmetic-coded SOF9: genuinely unsupported
    arith = (b"\xff\xd8"
             b"\xff\xc9\x00\x0b\x08\x00\x08\x00\x08\x01\x01\x11\x00")
    with pytest.raises(JPEGError, match="unsupported"):
        jpeg_decode(arith)


def test_jpeg_progressive_decodes_like_baseline():
    """Round-6: SOF2 progressive decode (T.81 Annex G — DC first/refine,
    per-band AC first with cross-block EOB runs, AC refinement with
    correction bits). The fixture encoder uses an all-ones quant table,
    so progressive and baseline decode the SAME coefficients: outputs
    must be byte-identical."""
    from pdfplumber_spark.kernel.jpeg import (
        jpeg_decode,
        jpeg_encode_gray,
        jpeg_encode_gray_progressive,
    )

    rng = np.random.RandomState(0)
    imgs = [
        np.full((8, 8), 99, dtype=np.uint8),
        (np.add.outer(np.arange(17), np.arange(23)) * 3 % 256).astype(np.uint8),
        rng.randint(0, 256, (32, 16)).astype(np.uint8),
        rng.randint(0, 256, (6, 6)).astype(np.uint8),
    ]
    for img in imgs:
        base = jpeg_decode(jpeg_encode_gray(img))["samples"]
        d = jpeg_decode(jpeg_encode_gray_progressive(img))
        assert d["height"], d["width"] == img.shape
        assert (d["samples"] == base).all()


def test_jpeg_progressive_garbage_never_crashes():
    """Mutated progressive streams must raise JPEGError (classify), never
    escape with IndexError/ValueError."""
    from pdfplumber_spark.kernel.jpeg import JPEGError, jpeg_decode, jpeg_encode_gray_progressive

    rng = np.random.RandomState(5)
    good = bytearray(jpeg_encode_gray_progressive(
        rng.randint(0, 256, (16, 16)).astype(np.uint8)))
    for trial in range(200):
        bad = bytearray(good)
        for _ in range(rng.randint(1, 6)):
            bad[rng.randint(2, len(bad))] = rng.randint(0, 256)
        try:
            jpeg_decode(bytes(bad))
        except JPEGError:
            pass


def test_dct_image_xobjects_decode_end_to_end():
    """The fake-JPEG corpus family stays 'unsupported'; a real baseline
    stream in the same slot decodes through _decode_one."""
    import zlib as _zlib

    from pdfplumber_spark.kernel.jpeg import jpeg_encode_gray

    real = jpeg_encode_gray(np.full((6, 6), 99, dtype=np.uint8))
    objs = [
        b"<</Type/Catalog/Pages 2 0 R>>",
        b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
        b"<</Type/Page/Parent 2 0 R/MediaBox[0 0 100 100]"
        b"/Resources<</XObject<</Im0 4 0 R>>>>/Contents 5 0 R>>",
        b"<</Type/XObject/Subtype/Image/Width 6/Height 6"
        b"/ColorSpace/DeviceGray/BitsPerComponent 8/Filter/DCTDecode"
        b"/Length %d>>\nstream\n%s\nendstream" % (len(real), real),
        b"<</Length 33>>\nstream\nq 50 0 0 50 10 10 cm /Im0 Do Q\nendstream",
    ]
    (row,) = image_xobjects(_objs_pdf(objs))
    assert row["status"] == "ok"
    assert (row["width"], row["height"], row["channels"]) == (6, 6, 1)
    assert set(row["samples"]) == {99}


def _dct_pdf(dims: bytes) -> bytes:
    """One-image PDF whose XObject dict carries ``dims`` (e.g. b"/Width 6")
    around a real 6x6 baseline-JPEG stream."""
    from pdfplumber_spark.kernel.jpeg import jpeg_encode_gray

    real = jpeg_encode_gray(np.full((6, 6), 99, dtype=np.uint8))
    objs = [
        b"<</Type/Catalog/Pages 2 0 R>>",
        b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
        b"<</Type/Page/Parent 2 0 R/MediaBox[0 0 100 100]"
        b"/Resources<</XObject<</Im0 4 0 R>>>>/Contents 5 0 R>>",
        b"<</Type/XObject/Subtype/Image " + dims +
        b"/ColorSpace/DeviceGray/BitsPerComponent 8/Filter/DCTDecode"
        b"/Length %d>>\nstream\n%s\nendstream" % (len(real), real),
        b"<</Length 33>>\nstream\nq 50 0 0 50 10 10 cm /Im0 Do Q\nendstream",
    ]
    return _objs_pdf(objs)


@pytest.mark.parametrize(
    "dims,status",
    [
        (b"/Width 6/Height 6", "ok"),     # both agree
        (b"/Width 6", "ok"),              # missing axis = unspecified
        (b"/Height 6", "ok"),
        (b"/Width 6/Height 0", "ok"),     # zero = unspecified
        (b"", "ok"),                      # SOF dims trusted outright
        (b"/Width 7/Height 6", "error"),  # nonzero disagreement per axis
        (b"/Width 6/Height 5", "error"),
    ],
)
def test_dct_dict_dims_checked_per_axis(dims, status):
    """Round-5 ADVICE (images.py:187): a dict that specifies only ONE axis
    (or zero) must not flag 'error' when the JPEG decoded fine — real
    consumers trust the SOF dimensions; only a NONZERO dict dim that
    disagrees with SOF is a mismatch."""
    (row,) = image_xobjects(_dct_pdf(dims))
    assert row["status"] == status, (dims, row["status"])
    if status == "ok":
        assert (row["width"], row["height"]) == (6, 6)


def test_ccitt_k0_fill_bits_before_eol():
    """Round-5 ADVICE (ccitt.py): real K=0 G3 streams pad with FILL (runs
    of 0 bits) before each 000000000001 EOL (T.4 4.1.2). Zero fill used
    to make peek(12) != 1, the EOL was missed, and _read_run raised on
    the fill run. Any >= 11 zeros followed by a 1 must consume as
    fill+EOL."""
    from pdfplumber_spark.kernel.ccitt import ccittfax_decode

    # two identical rows, width 10: white4 black3 white3 (MH codes)
    row = "1011" + "10" + "1000"
    eol = "000000000001"
    for fill in (0, 1, 5, 9):  # fill zeros BEFORE each EOL
        bits = "0" * fill + eol + row + "0" * fill + eol + row
        bits += "0" * ((-len(bits)) % 8)
        data = bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
        dec = ccittfax_decode(data, columns=10, rows=2, k=0)
        got = _unpack_bits(dec, 10, 2)
        for r in got:
            assert list(r) == [1, 1, 1, 1, 0, 0, 0, 1, 1, 1], fill


def test_ccitt_g3_oracle_decoder_differential():
    """The expected.py string pixel-fill G3 decoder and the kernel
    bit-reader decoder must agree on random images across K regimes and
    fill paddings (they share only the ITU code tables)."""
    from pdfplumber_spark.kernel.ccitt import ccitt_g3_encode, ccittfax_decode
    from pdfplumber_spark.sources.expected import _oracle_g3_rows

    rng = np.random.RandomState(7)
    for k in (0, 2, 4):
        for fill in (0, 4, 9):
            for w, h in [(7, 5), (31, 13), (64, 9)]:
                img = (rng.rand(h, w) < 0.5).astype(np.uint8)
                enc = ccitt_g3_encode(img, w, h, k=k, fill=fill)
                kernel_bits = _unpack_bits(
                    ccittfax_decode(enc, columns=w, rows=h, k=k,
                                    black_is_1=True),
                    w, h,
                )
                oracle_rows = np.array(
                    _oracle_g3_rows(enc, w, h, k), dtype=np.uint8
                )
                assert (kernel_bits == img).all(), (k, fill, w, h)
                assert (oracle_rows == img).all(), (k, fill, w, h)


def test_corpus_v14_g3_kinds_decode_on_both_sides():
    """Corpus v14's page-0 matrix carries K=0 and K=2 CCITT images with
    fill bits; engine decode must classify them 'ok' and match the
    independent oracle's stats classification (round-5 ADVICE: the K>=0
    engine/oracle divergence is now exercised, not latent)."""
    from pdfplumber_spark.kernel.pdfgen import image_codes
    from pdfplumber_spark.sources.corpus import _pdf_images
    import random as _random

    rng = _random.Random(99)
    pdf = _pdf_images(rng)
    rows = {r["name"]: r for r in image_xobjects(pdf)}
    # page-0 matrix order: rgb subbyte palette ccitt ccitt_g3 ccitt_mixed
    # jpeg dct -> Im3..Im5 are the fax trio
    for name in ("Im3", "Im4", "Im5"):
        assert rows[name]["status"] == "ok", (name, rows[name]["status"])
        assert rows[name]["bits"] == 1


def test_cmyk_flate_decode_native_channels():
    """8-bit Flate DeviceCMYK rasters decode as native 4-channel samples
    (corpus page-0 matrix col 9); the stats row reports C/M/Y means with
    K folded into min/max only."""
    import random as _random

    from pdfplumber_spark.kernel.images import image_xobjects
    from pdfplumber_spark.operators.multimodal import _image_stat_rows
    from pdfplumber_spark.sources.corpus import _pdf_images

    rng = _random.Random(99)
    pdf = _pdf_images(rng)
    rows = {r["name"]: r for r in image_xobjects(pdf)}
    cmyk = [r for r in rows.values()
            if r["colorspace"] == "DeviceCMYK"]
    assert cmyk and all(r["status"] == "ok" and r["channels"] == 4
                        for r in cmyk)
    r = cmyk[0]
    assert len(r["samples"]) == r["width"] * r["height"] * 4
    stat = [s for s in _image_stat_rows("u", pdf) if s[6] == 4]
    assert stat, "stats row for the CMYK image"
    _, _, _, _, w, h, ch, m0, m1, m2, mn, mx, status = stat[0]
    assert status == "ok" and ch == 4
    import numpy as np

    arr = np.frombuffer(r["samples"], dtype=np.uint8).reshape(h, w, 4)
    n_px = h * w
    for got, chan in ((m0, 0), (m1, 1), (m2, 2)):
        assert got == round(int(arr[:, :, chan].sum(dtype=np.int64)) / n_px, 6)
    assert mn == int(arr.min()) and mx == int(arr.max())


def test_cmyk_render_blit_converts_to_rgb():
    """Structural renders convert CMYK blits via r=(255-c)(255-k)/255."""
    import random as _random

    from pdfplumber_spark import api
    from pdfplumber_spark.sources.corpus import _pdf_images

    pdf_bytes = _pdf_images(_random.Random(99))
    page = api.open(pdf_bytes).pages[0]
    im = page.to_image(resolution=36)
    assert im._repr_png_()[:8] == b"\x89PNG\r\n\x1a\n"


# --- CMYK / YCCK JPEG (round-7; kernel/jpeg.py APP14 transforms) -------------


def test_jpeg_cmyk_roundtrip_all_conventions():
    """Encode true CMYK under each storage convention (Adobe-inverted
    CMYK, Photoshop YCCK, raw non-Adobe CMYK); decode must recover the
    true values (±1 IDCT rounding; ±2 through the YCbCr pair). The sign
    convention itself is pinned against the system libjpeg in
    test_jpeg_libjpeg_oracle.py."""
    from pdfplumber_spark.kernel.jpeg import jpeg_decode, jpeg_encode_cmyk

    yy, xx = np.mgrid[0:21, 0:37].astype(np.float64)
    img = np.stack(
        [
            np.clip(128 + 90 * np.sin(xx / 5) * np.cos(yy / 7), 0, 255),
            np.clip(128 + 90 * np.cos(xx / 6), 0, 255),
            np.clip(xx * 6, 0, 255),
            np.clip(yy * 11, 0, 255),
        ],
        axis=2,
    ).astype(np.uint8)
    for transform, adobe, tol in ((0, True, 1), (2, True, 2), (0, False, 1)):
        d = jpeg_decode(jpeg_encode_cmyk(img, transform=transform,
                                         adobe=adobe))
        assert d["n_components"] == 4
        assert d["samples"].shape == (21, 37, 4)
        err = np.abs(d["samples"].astype(int) - img.astype(int)).max()
        assert err <= tol, (transform, adobe, err)


def test_jpeg_cmyk_solid_colors_survive():
    from pdfplumber_spark.kernel.jpeg import jpeg_decode, jpeg_encode_cmyk

    for chan in range(4):
        solid = np.zeros((16, 16, 4), np.uint8)
        solid[:, :, chan] = 255
        for transform in (0, 2):
            got = jpeg_decode(jpeg_encode_cmyk(solid, transform=transform))[
                "samples"].astype(int)
            assert np.abs(got - solid.astype(int)).max() <= 1, (chan, transform)


def test_jpeg_cmyk_garbage_never_crashes():
    from pdfplumber_spark.kernel.jpeg import (
        JPEGError,
        jpeg_decode,
        jpeg_encode_cmyk,
    )

    rng = np.random.RandomState(11)
    good = bytearray(jpeg_encode_cmyk(
        rng.randint(0, 256, (16, 16, 4)).astype(np.uint8), transform=2))
    for _trial in range(200):
        bad = bytearray(good)
        for _ in range(rng.randint(1, 6)):
            bad[rng.randint(2, len(bad))] = rng.randint(0, 256)
        try:
            jpeg_decode(bytes(bad))
        except JPEGError:
            pass


def test_cmyk_dct_pdf_end_to_end():
    """DeviceCMYK DCTDecode image XObject decodes to 4-channel true-CMYK
    samples through image_xobjects (the consumer path display.py already
    converts 4-channel samples via (255-c)(255-k)/255)."""
    from pdfplumber_spark.kernel.jpeg import jpeg_encode_cmyk

    img = np.zeros((6, 6, 4), np.uint8)
    img[:, :, 1] = 200  # magenta-ish
    img[:, :, 3] = 40
    real = jpeg_encode_cmyk(img, transform=2)
    objs = [
        b"<</Type/Catalog/Pages 2 0 R>>",
        b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
        b"<</Type/Page/Parent 2 0 R/MediaBox[0 0 100 100]"
        b"/Resources<</XObject<</Im0 4 0 R>>>>/Contents 5 0 R>>",
        b"<</Type/XObject/Subtype/Image/Width 6/Height 6"
        b"/ColorSpace/DeviceCMYK/BitsPerComponent 8/Filter/DCTDecode"
        b"/Length %d>>\nstream\n%s\nendstream" % (len(real), real),
        b"<</Length 33>>\nstream\nq 50 0 0 50 10 10 cm /Im0 Do Q\nendstream",
    ]
    pdf = _objs_pdf(objs)
    (row,) = image_xobjects(pdf)
    assert row["status"] == "ok"
    assert (row["width"], row["height"], row["channels"]) == (6, 6, 4)
    got = np.frombuffer(row["samples"], np.uint8).reshape(6, 6, 4)
    assert np.abs(got.astype(int) - img.astype(int)).max() <= 1
    # and the page renders through the display CMYK->RGB path
    from pdfplumber_spark import api

    im = api.open(pdf).pages[0].to_image(resolution=36)
    assert im._repr_png_()[:8] == b"\x89PNG\r\n\x1a\n"
