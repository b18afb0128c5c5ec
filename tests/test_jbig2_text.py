"""JBIG2 symbol dictionary (T.88 §6.5) + text region (§6.4) — encoder
and decoder are built from the spec's separate flowcharts, so the
roundtrips below pin both against each other; the placement matrix
covers every arithmetic decode path (all four REFCORNERs, TRANSPOSED,
SBSTRIPS>1 via IAIT, SBDSOFFSET, XOR/AND combine ops, SBDEFPIXEL,
multi-height-class dictionaries, dictionary import chains, IAx band
boundaries)."""

import random

import pytest

from pdfplumber_spark.kernel.jbig2 import (
    ArithCtx,
    JBIG2Error,
    MQDecoder,
    MQEncoder,
    _decode_iaid,
    _decode_int,
    _decode_symbol_dict,
    _decode_text_region,
    _encode_iaid,
    _encode_int,
    _encode_symbol_dict,
    _encode_text_region,
    _seg_header,
    decode_embedded,
    encode_text_embedded,
)


def _mksym(rng, w, h):
    return [[rng.randint(0, 1) for _ in range(w)] for _ in range(h)]


def _compose_oracle(syms, placements, w, h, op=0, default=0):
    page = [[default] * w for _ in range(h)]
    for sid, x, y in placements:
        for sy, srow in enumerate(syms[sid]):
            for sx, bit in enumerate(srow):
                if 0 <= y + sy < h and 0 <= x + sx < w:
                    cur = page[y + sy][x + sx]
                    page[y + sy][x + sx] = (
                        cur | bit if op == 0 else
                        cur & bit if op == 1 else
                        cur ^ bit if op == 2 else
                        1 - (cur ^ bit))
    return page


# --- integer arithmetic coding (Annex A) -------------------------------

def test_iax_roundtrip_band_boundaries():
    """Every IAx band edge (Table A.1) + OOB + random values."""
    vals = [0, 1, 3, 4, 19, 20, 83, 84, 339, 340, 4435, 4436, 100000,
            2**31 - 1]
    vals = vals + [-v for v in vals if v] + [None]
    rng = random.Random(0)
    vals += [rng.randint(-10**6, 10**6) for _ in range(200)]
    enc = MQEncoder()
    ctx = ArithCtx()
    for v in vals:
        _encode_int(enc, ctx, v)
    data = enc.flush()
    dec = MQDecoder(data)
    dctx = ArithCtx()
    for v in vals:
        assert _decode_int(dec, dctx) == v


def test_iaid_roundtrip_all_lengths():
    for codelen in (0, 1, 2, 5, 9):
        n = 1 << codelen
        enc = MQEncoder()
        ctx = ArithCtx(1 << (codelen + 1))
        ids = list(range(n)) * 3
        for i in ids:
            _encode_iaid(enc, ctx, i, codelen)
        dec = MQDecoder(enc.flush())
        dctx = ArithCtx(1 << (codelen + 1))
        for i in ids:
            assert _decode_iaid(dec, dctx, codelen) == i


# --- symbol dictionary --------------------------------------------------

def test_symbol_dict_roundtrip_multi_height_classes():
    rng = random.Random(7)
    syms = sorted(
        [_mksym(rng, rng.randint(1, 9), rng.randint(1, 9))
         for _ in range(12)],
        key=lambda s: (len(s), len(s[0])),
    )
    seg = _encode_symbol_dict(syms)
    out = _decode_symbol_dict(seg, [])
    assert out == syms


def test_symbol_dict_import_chain():
    """Dict B imports dict A's exports; a text region referring only to
    B sees A's symbols followed by B's new ones (§6.5.10 ordering)."""
    rng = random.Random(9)
    a_syms = sorted([_mksym(rng, 3, 4), _mksym(rng, 5, 4)],
                    key=lambda s: (len(s), len(s[0])))
    b_syms = sorted([_mksym(rng, 2, 6), _mksym(rng, 7, 6)],
                    key=lambda s: (len(s), len(s[0])))
    import struct as S

    seg_a = _encode_symbol_dict(a_syms)
    # B: imports 2, exports all 4 — patch numex and prepend import runs
    # by re-encoding manually
    enc = MQEncoder()
    iadh, iadw, iaex = ArithCtx(), ArithCtx(), ArithCtx()
    hc = 0
    i = 0
    while i < len(b_syms):
        h = len(b_syms[i])
        _encode_int(enc, iadh, h - hc)
        hc = h
        w_prev = 0
        while i < len(b_syms) and len(b_syms[i]) == hc:
            w = len(b_syms[i][0])
            _encode_int(enc, iadw, w - w_prev)
            w_prev = w
            from pdfplumber_spark.kernel.jbig2 import _encode_bitmap

            _encode_bitmap(enc, b_syms[i], w, hc, 0, None)
            i += 1
        _encode_int(enc, iadw, None)
    _encode_int(enc, iaex, 0)
    _encode_int(enc, iaex, 4)  # export imported + new
    at = seg_a[2:10]
    seg_b = S.pack(">H", 0) + at + S.pack(">II", 4, 2) + enc.flush()
    out_a = _decode_symbol_dict(seg_a, [])
    out_b = _decode_symbol_dict(seg_b, out_a)
    assert out_b == a_syms + b_syms


def test_symbol_dict_rejections():
    import struct as S

    with pytest.raises(JBIG2Error):
        _decode_symbol_dict(b"\x00", [])
    base = _encode_symbol_dict([[[1]]])
    for bit in (1, 0x100):  # SDHUFF, ctx-used (SDREFAGG supported r7)
        bad = S.pack(">H", bit) + base[2:]
        with pytest.raises(JBIG2Error):
            _decode_symbol_dict(bad, [])


# --- text region placement matrix ---------------------------------------

@pytest.mark.parametrize("refcorner", [0, 1, 2, 3])
@pytest.mark.parametrize("transposed", [0, 1])
def test_text_region_all_corners(refcorner, transposed):
    rng = random.Random(refcorner * 2 + transposed)
    syms = sorted([_mksym(rng, 4, 6), _mksym(rng, 7, 3), _mksym(rng, 2, 2)],
                  key=lambda s: (len(s), len(s[0])))
    placements = [(0, 3, 2), (1, 12, 4), (2, 25, 1), (0, 3, 14),
                  (2, 18, 15), (1, 28, 13)]
    seg = _encode_text_region(syms, placements, 40, 24,
                              refcorner=refcorner, transposed=transposed)
    rows, w, h, rx, ry, _ = _decode_text_region(seg, syms)
    assert (w, h, rx, ry) == (40, 24, 0, 0)
    assert rows == _compose_oracle(syms, placements, 40, 24)


def test_text_region_strips_and_dsoffset():
    rng = random.Random(31)
    syms = sorted([_mksym(rng, 5, 5), _mksym(rng, 3, 5)],
                  key=lambda s: (len(s), len(s[0])))
    placements = [(0, 1, 1), (1, 9, 3), (0, 16, 2), (1, 25, 0),
                  (0, 4, 13), (1, 12, 14)]
    for logstrips in (1, 2):
        for dso in (-3, 0, 5):
            seg = _encode_text_region(
                syms, placements, 34, 20, logstrips=logstrips,
                dsoffset=dso)
            rows, w, h, _, _, _ = _decode_text_region(seg, syms)
            assert rows == _compose_oracle(syms, placements, 34, 20), (
                logstrips, dso)


def test_text_region_combops_and_defpixel():
    rng = random.Random(55)
    syms = [_mksym(rng, 6, 6)]
    placements = [(0, 2, 2), (0, 5, 4)]  # overlapping -> ops differ
    for op, default in ((0, 0), (2, 0), (1, 1), (3, 1)):
        seg = _encode_text_region(syms, placements, 16, 14,
                                  combop=op, defpixel=default)
        rows, _, _, _, _, _ = _decode_text_region(seg, syms)
        assert rows == _compose_oracle(
            syms, placements, 16, 14, op=op, default=default), op


def test_text_region_rejections():
    syms = [[[1]]]
    with pytest.raises(JBIG2Error):
        _decode_text_region(b"\x00" * 10, syms)
    good = _encode_text_region(syms, [(0, 0, 0)], 4, 4)
    import struct as S

    flags = S.unpack(">H", good[17:19])[0]
    # SBHUFF (SBREFINE is supported since round 7)
    bad = good[:17] + S.pack(">H", flags | 1) + good[19:]
    with pytest.raises(JBIG2Error):
        _decode_text_region(bad, syms)
    with pytest.raises(JBIG2Error):
        _decode_text_region(good, [])  # no symbols


# --- full embedded stream -----------------------------------------------

def test_embedded_text_page_roundtrip():
    rng = random.Random(42)
    syms = [_mksym(rng, 5, 7), _mksym(rng, 6, 7), _mksym(rng, 4, 9),
            _mksym(rng, 4, 9), _mksym(rng, 8, 3)]
    placements = [(0, 2, 3), (1, 10, 3), (2, 20, 3), (4, 2, 15),
                  (3, 14, 15), (0, 30, 15)]
    data = encode_text_embedded(syms, placements, 48, 30)
    rows, w, h = decode_embedded(data)
    assert (w, h) == (48, 30)
    assert rows == _compose_oracle(syms, placements, 48, 30)


def test_embedded_text_and_generic_compose():
    """A page carrying BOTH a text region and a generic region composes
    with OR at the right offsets."""
    import struct as S

    from pdfplumber_spark.kernel.jbig2 import (
        _AT_NOMINAL,
        encode_generic_region,
    )

    rng = random.Random(3)
    syms = [_mksym(rng, 4, 4)]
    text_seg = _encode_text_region(syms, [(0, 1, 1)], 10, 8)
    dict_seg = _encode_symbol_dict(syms)
    gen_rows = _mksym(rng, 6, 5)
    at = b"".join(bytes([ax & 0xFF, ay & 0xFF]) for ax, ay in _AT_NOMINAL[0])
    gen_seg = (S.pack(">IIIIB", 6, 5, 12, 10, 0) + bytes([0]) + at
               + encode_generic_region(gen_rows, 6, 5))
    page_info = S.pack(">IIIIB", 20, 16, 0, 0, 0) + b"\x00\x00\x00"
    out = _seg_header(0, 48, 1, len(page_info)) + page_info
    out += _seg_header(1, 0, 1, len(dict_seg)) + dict_seg
    out += _seg_header(2, 6, 1, len(text_seg), refs=(1,)) + text_seg
    out += _seg_header(3, 38, 1, len(gen_seg)) + gen_seg
    out += _seg_header(4, 49, 1, 0)
    rows, w, h = decode_embedded(bytes(out))
    assert (w, h) == (20, 16)
    expect = [[0] * 20 for _ in range(16)]
    for sy, srow in enumerate(syms[0]):
        for sx, bit in enumerate(srow):
            expect[1 + sy][1 + sx] |= bit
    for sy, srow in enumerate(gen_rows):
        for sx, bit in enumerate(srow):
            if 10 + sy < 16 and 12 + sx < 20:
                expect[10 + sy][12 + sx] |= bit
    assert rows == expect


def test_embedded_text_garbage_never_crashes_or_hangs():
    rng = random.Random(8)
    syms = [_mksym(rng, 3, 4), _mksym(rng, 5, 4)]
    good = bytearray(encode_text_embedded(syms, [(0, 1, 1), (1, 6, 2)],
                                          16, 10))
    for _trial in range(150):
        bad = bytearray(good)
        for _ in range(rng.randint(1, 5)):
            bad[rng.randrange(len(bad))] = rng.randrange(256)
        try:
            decode_embedded(bytes(bad))
        except JBIG2Error:
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"non-JBIG2Error escaped: {exc!r}")


def test_text_page_through_pdf_filter_path():
    """An embedded symbol/text JBIG2 inside a PDF image XObject decodes
    through the standard JBIG2Decode filter path."""
    import io

    from pdfplumber_spark import api
    from pdfplumber_spark.kernel.images import _decode_one

    rng = random.Random(12)
    syms = [_mksym(rng, 5, 6), _mksym(rng, 3, 6)]
    placements = [(0, 1, 1), (1, 8, 2), (0, 12, 1)]
    stream = encode_text_embedded(syms, placements, 18, 9)
    objs = [
        b"<</Type/Catalog/Pages 2 0 R>>",
        b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
        b"<</Type/Page/Parent 2 0 R/MediaBox[0 0 100 100]"
        b"/Resources<</XObject<</Im0 4 0 R>>>>/Contents 5 0 R>>",
        b"<</Type/XObject/Subtype/Image/Width 18/Height 9"
        b"/ColorSpace/DeviceGray/BitsPerComponent 1/Filter/JBIG2Decode"
        b"/Length %d>>\nstream\n%s\nendstream" % (len(stream), stream),
        b"<</Length 33>>\nstream\nq 50 0 0 50 10 10 cm /Im0 Do Q\nendstream",
    ]
    out = bytearray(b"%PDF-1.5\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n" % i + o + b"\nendobj\n"
    xa = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += (b"trailer\n<</Size %d/Root 1 0 R>>\nstartxref\n%d\n%%%%EOF\n"
            % (len(objs) + 1, xa))
    pg = api.open(io.BytesIO(bytes(out))).pages[0]
    (image,) = pg.images
    d = _decode_one(pg._interp.doc, image["stream"].xo)
    assert d["status"] == "ok"
    assert (d["width"], d["height"]) == (18, 9)
    oracle = _compose_oracle(syms, placements, 18, 9)
    # JBIG2 1 = black -> PDF gray sample 0
    got = list(d["samples"])
    want = [0 if oracle[y][x] else 1
            for y in range(9) for x in range(18)]
    assert got == want


# ---------------------------------------------------------------------------
# MMR generic regions (round-7; T.88 §6.2.6 == T.6 via the CCITT kernel)


def test_mmr_generic_region_roundtrip():
    from pdfplumber_spark.kernel.jbig2 import decode_embedded, encode_embedded

    rng = random.Random(17)
    for trial in range(10):
        w, h = rng.randint(1, 40), rng.randint(1, 30)
        bm = [[rng.randint(0, 1) for _ in range(w)] for _ in range(h)]
        rows, ww, hh = decode_embedded(encode_embedded(bm, w, h, mmr=True))
        assert (ww, hh) == (w, h) and rows == bm, trial
    # structured runs (the case MMR actually compresses)
    bm = [[1 if (x // 5 + y // 3) % 2 else 0 for x in range(33)]
          for y in range(21)]
    rows, _, _ = decode_embedded(encode_embedded(bm, 33, 21, mmr=True))
    assert rows == bm


def test_mmr_matches_arithmetic_decode():
    """The same bitmap through BOTH codings decodes identically."""
    from pdfplumber_spark.kernel.jbig2 import decode_embedded, encode_embedded

    rng = random.Random(23)
    bm = [[rng.randint(0, 1) for _ in range(19)] for _ in range(13)]
    a, _, _ = decode_embedded(encode_embedded(bm, 19, 13))
    m, _, _ = decode_embedded(encode_embedded(bm, 19, 13, mmr=True))
    assert a == m == bm


def test_mmr_garbage_never_crashes():
    from pdfplumber_spark.kernel.jbig2 import (
        JBIG2Error,
        decode_embedded,
        encode_embedded,
    )

    rng = random.Random(29)
    bm = [[rng.randint(0, 1) for _ in range(20)] for _ in range(12)]
    good = bytearray(encode_embedded(bm, 20, 12, mmr=True))
    for _t in range(120):
        bad = bytearray(good)
        for _ in range(rng.randint(1, 4)):
            bad[rng.randrange(len(bad))] = rng.randrange(256)
        try:
            decode_embedded(bytes(bad))
        except JBIG2Error:
            pass


# ---------------------------------------------------------------------------
# Refinement (round-7; T.88 §6.3 + SBREFINE §6.4.11 + SDREFAGG §6.5.8.2)


def test_refinement_bitmap_roundtrip_matrix():
    """§6.3.5 generic refinement decode vs its encoder inverse: both
    templates, TPGRON on/off, dim changes, and nonzero dx/dy (the
    coding is lossless — the target reproduces bit-for-bit)."""
    from pdfplumber_spark.kernel.jbig2 import MQDecoder, MQEncoder, _refine_bitmap

    rng = random.Random(3)
    for trial in range(24):
        rw, rh = rng.randint(1, 20), rng.randint(1, 16)
        ref = _mksym(rng, rw, rh)
        w = max(1, rw + rng.choice([0, 0, 2, -1]))
        h = rh + rng.choice([0, 0, 1])
        dx, dy = rng.randint(-2, 2), rng.randint(-2, 2)
        target = [[int((ref[y - dy][x - dx]
                        if 0 <= y - dy < rh and 0 <= x - dx < rw else 0)
                       ^ (rng.random() < 0.1))
                   for x in range(w)] for y in range(h)]
        template = rng.choice([0, 1])
        tpgron = rng.random() < 0.5
        enc = MQEncoder()
        _refine_bitmap(enc, w, h, ref, dx, dy, template, None, tpgron,
                       target=target)
        got = _refine_bitmap(MQDecoder(enc.flush()), w, h, ref, dx, dy,
                             template, None, tpgron)
        assert got == target, (trial, w, h, dx, dy, template, tpgron)


def test_symbol_dict_refagg_roundtrip():
    """SDREFAGG=1 dictionary: new symbols coded as REFAGGNINST=1
    refinements of imported/earlier symbols."""
    from pdfplumber_spark.kernel.jbig2 import _encode_symbol_dict_refagg

    rng = random.Random(5)
    base = sorted([_mksym(rng, 4, 5), _mksym(rng, 6, 5)],
                  key=lambda s: (len(s), len(s[0])))
    out_a = _decode_symbol_dict(_encode_symbol_dict(base), [])
    new1 = [row[:] for row in base[0]]
    new1[1][1] ^= 1
    new2 = [[int(base[1][min(y, 4)][min(x, 5)]
                 ^ (rng.random() < 0.15)) for x in range(7)]
            for y in range(6)]
    newsyms = sorted([new1, new2], key=lambda s: (len(s), len(s[0])))
    seg_b = _encode_symbol_dict_refagg(out_a, newsyms,
                                       [(0, 0, 0), (1, 0, 0)])
    out_b = _decode_symbol_dict(seg_b, out_a)
    assert out_b == out_a + newsyms


def test_symbol_dict_refagg_aggregate_rejected():
    """REFAGGNINST != 1 (true aggregate text-region coding) classifies
    unsupported: hand-encode IAAI=2."""
    import struct as S

    from pdfplumber_spark.kernel.jbig2 import (
        _AT_NOMINAL,
        _REF_AT_NOMINAL,
        _encode_int,
        _sym_codelen,
    )

    enc = MQEncoder()
    iadh, iadw, iaai = ArithCtx(), ArithCtx(), ArithCtx()
    _encode_int(enc, iadh, 3)   # height class 3
    _encode_int(enc, iadw, 3)   # width 3
    _encode_int(enc, iaai, 2)   # REFAGGNINST = 2 -> must raise
    at = b"".join(bytes([a & 0xFF, b & 0xFF]) for a, b in _AT_NOMINAL[0])
    rat = b"".join(bytes([a & 0xFF, b & 0xFF]) for a, b in _REF_AT_NOMINAL)
    seg = S.pack(">H", 1 << 1) + at + rat + S.pack(">II", 1, 1) + enc.flush()
    with pytest.raises(JBIG2Error, match="aggregate"):
        _decode_symbol_dict(seg, [])


def test_text_region_sbrefine_roundtrip():
    """SBREFINE text region: refined instances replace the dictionary
    symbol with their own bitmap (incl. a dims change); unrefined
    instances still code RI=0."""
    rng = random.Random(7)
    syms = sorted([_mksym(rng, 5, 6), _mksym(rng, 3, 6)],
                  key=lambda s: (len(s), len(s[0])))
    target0 = [row[:] for row in syms[0]]
    target0[2][1] ^= 1
    target1 = [[int(syms[1][min(y, 5)][min(x, 2)] ^ (y == 0 and x == 3))
                for x in range(4)] for y in range(7)]
    placements = [(0, 1, 1), (1, 9, 2), (0, 15, 1)]
    seg = _encode_text_region(syms, placements, 24, 12,
                              refinements={0: target0, 1: target1})
    rows, w, h, _, _, _ = _decode_text_region(seg, syms)
    page = [[0] * 24 for _ in range(12)]
    for bm, (sid, x, y) in zip([target0, target1, syms[0]], placements):
        for sy, srow in enumerate(bm):
            for sx, bit in enumerate(srow):
                if 0 <= y + sy < 12 and 0 <= x + sx < 24:
                    page[y + sy][x + sx] |= bit
    assert rows == page


def test_refinement_region_segment_on_page():
    """Immediate generic refinement region (type 42): refines the page
    content in place (REPLACE), TPGRON exercised."""
    import struct as S

    from pdfplumber_spark.kernel.jbig2 import (
        _REF_AT_NOMINAL,
        _refine_bitmap,
        encode_embedded,
    )

    rng = random.Random(11)
    base_pg = _mksym(rng, 20, 14)
    target_pg = [row[:] for row in base_pg]
    for _ in range(8):
        target_pg[rng.randrange(14)][rng.randrange(20)] ^= 1
    gen = encode_embedded(base_pg, 20, 14)
    enc = MQEncoder()
    _refine_bitmap(enc, 20, 14, base_pg, 0, 0, 0, None, True,
                   target=target_pg)
    grat = b"".join(bytes([a & 0xFF, b & 0xFF]) for a, b in _REF_AT_NOMINAL)
    ref_seg = (S.pack(">IIIIB", 20, 14, 0, 0, 4) + bytes([2]) + grat
               + enc.flush())
    out = gen[:-11]  # drop end-of-page, append refinement + EOP
    out += _seg_header(3, 42, 1, len(ref_seg)) + ref_seg
    out += _seg_header(4, 49, 1, 0)
    rows, w, h = decode_embedded(bytes(out))
    assert (w, h) == (20, 14)
    assert rows == target_pg


def test_refinement_garbage_never_crashes():
    from pdfplumber_spark.kernel.jbig2 import _encode_symbol_dict_refagg

    rng = random.Random(13)
    base = [_mksym(rng, 4, 4)]
    new = [[row[:] for row in base[0]]]
    new[0][0][0] ^= 1
    good = bytearray(_encode_symbol_dict_refagg(base, new, [(0, 0, 0)]))
    for _t in range(120):
        bad = bytearray(good)
        for _ in range(rng.randint(1, 4)):
            bad[rng.randrange(len(bad))] = rng.randrange(256)
        try:
            _decode_symbol_dict(bytes(bad), base)
        except JBIG2Error:
            pass


# ---------------------------------------------------------------------------
# Halftone regions (round-7; T.88 §6.6 + §6.7 pattern dictionaries)


def test_halftone_page_roundtrip():
    """Pattern dictionary (wide-bitmap decode with the spec-fixed
    A1=(-HDPW,0)) + halftone region (Annex C.5 gray-coded bitplanes over
    one shared coder) compose onto the page exactly like the manual
    pattern placement."""
    import struct as S

    from pdfplumber_spark.kernel.jbig2 import (
        _decode_halftone_region,
        _decode_pattern_dict,
        _encode_halftone_region,
        _encode_pattern_dict,
    )

    rng = random.Random(9)
    p = 3

    def pat(level):
        cells = [(r, c) for r in range(p) for c in range(p)]
        rng2 = random.Random(level)
        on = set(rng2.sample(cells, level * 3))
        return [[1 if (r, c) in on else 0 for c in range(p)]
                for r in range(p)]

    patterns = [pat(k) for k in range(4)]
    seg = _encode_pattern_dict(patterns)
    assert _decode_pattern_dict(seg) == patterns
    values = [[rng.randint(0, 3) for _ in range(6)] for _ in range(4)]
    w, h = 6 * p, 4 * p
    ht = _encode_halftone_region(patterns, values, w, h)
    rows, _, _, _, _, _ = _decode_halftone_region(ht, patterns)
    expect = [[0] * w for _ in range(h)]
    for mg in range(4):
        for ng in range(6):
            pt = patterns[values[mg][ng]]
            for r in range(p):
                for c in range(p):
                    expect[mg * p + r][ng * p + c] |= pt[r][c]
    assert rows == expect
    # full embedded page through the segment graph
    page_info = S.pack(">IIIIB", w, h, 0, 0, 0) + b"\x00\x00\x00"
    out = _seg_header(0, 48, 1, len(page_info)) + page_info
    out += _seg_header(1, 16, 1, len(seg)) + seg
    out += _seg_header(2, 22, 1, len(ht), refs=(1,)) + ht
    out += _seg_header(3, 49, 1, 0)
    prows, pw_, ph_ = decode_embedded(bytes(out))
    assert (pw_, ph_) == (w, h) and prows == expect


def test_halftone_rejections_and_fuzz():
    import struct as S

    from pdfplumber_spark.kernel.jbig2 import (
        _decode_halftone_region,
        _decode_pattern_dict,
        _encode_halftone_region,
        _encode_pattern_dict,
    )

    with pytest.raises(JBIG2Error):
        _decode_pattern_dict(b"\x01\x03\x03" + b"\x00" * 4)  # MMR
    patterns = [[[0]], [[1]]]
    ht = _encode_halftone_region(patterns, [[0, 1]], 2, 1)
    flags = ht[17]
    for bit in (1, 8):  # HMMR, HENABLESKIP
        bad = ht[:17] + bytes([flags | bit]) + ht[18:]
        with pytest.raises(JBIG2Error):
            _decode_halftone_region(bad, patterns)
    with pytest.raises(JBIG2Error):
        _decode_halftone_region(ht, [])  # no patterns
    rng = random.Random(31)
    good = bytearray(ht)
    for _t in range(100):
        bad = bytearray(good)
        for _ in range(rng.randint(1, 4)):
            bad[rng.randrange(len(bad))] = rng.randrange(256)
        try:
            _decode_halftone_region(bytes(bad), patterns)
        except JBIG2Error:
            pass
