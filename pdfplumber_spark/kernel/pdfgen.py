"""Deterministic synthetic PDF writer (from scratch, stdlib zlib only).

Emits small, well-formed PDF 1.4 files: classic xref table, Flate-compressed
content streams, a single WinAnsi ``Helvetica``-named font with an explicit
``/Widths`` array (so parser and writer agree on metrics without AFM tables).
No timestamps, no IDs — byte-deterministic for a given spec.

Page spec model (all coordinates TOP-LEFT origin, PDF points — the writer
converts to PDF's bottom-up space):

    {"width": 612, "height": 792,
     "texts":  [{"x": 72, "top": 72, "size": 12, "text": "Hello"}, ...],
     "rects":  [{"x0":..,"top":..,"x1":..,"bottom":..}, ...],
     "lines":  [{"x0":..,"top":..,"x1":..,"bottom":..}, ...],
     "curves": [{"pts": [(x, top), ...]}, ...],
     "images": [{"x": 100, "top": 100, "w": 96, "h": 64,   # placed box (pts)
                 "pw": 8, "ph": 8, "channels": 3,          # pixel raster
                 "seed": 7,                                 # deterministic px
                 "format": "flate" | "dct"}, ...]}          # dct = fake JPEG
"""

from __future__ import annotations

import zlib
from typing import Dict, List

# Deterministic per-glyph widths (1/1000 text units) for ASCII 32..126.
# Roughly Helvetica-shaped but defined HERE (both writer and parser use this
# table only through the embedded /Widths array).
_BASE_WIDTHS = {
    " ": 278, "!": 278, '"': 355, "#": 556, "$": 556, "%": 889, "&": 667,
    "'": 191, "(": 333, ")": 333, "*": 389, "+": 584, ",": 278, "-": 333,
    ".": 278, "/": 278, "0": 556, "1": 556, "2": 556, "3": 556, "4": 556,
    "5": 556, "6": 556, "7": 556, "8": 556, "9": 556, ":": 278, ";": 278,
    "<": 584, "=": 584, ">": 584, "?": 556, "@": 1015, "A": 667, "B": 667,
    "C": 722, "D": 722, "E": 667, "F": 611, "G": 778, "H": 722, "I": 278,
    "J": 500, "K": 667, "L": 556, "M": 833, "N": 722, "O": 778, "P": 667,
    "Q": 778, "R": 722, "S": 667, "T": 611, "U": 722, "V": 667, "W": 944,
    "X": 667, "Y": 667, "Z": 611, "[": 278, "\\": 278, "]": 278, "^": 469,
    "_": 556, "`": 333, "a": 556, "b": 556, "c": 500, "d": 556, "e": 556,
    "f": 278, "g": 556, "h": 556, "i": 222, "j": 222, "k": 500, "l": 222,
    "m": 833, "n": 556, "o": 556, "p": 556, "q": 556, "r": 333, "s": 500,
    "t": 278, "u": 556, "v": 500, "w": 722, "x": 500, "y": 500, "z": 500,
    "{": 334, "|": 260, "}": 334, "~": 584,
}

WIDTHS = [ _BASE_WIDTHS.get(chr(c), 556) for c in range(32, 127) ]
FONT_DESCENT = -212  # 1/1000 units, part of the deterministic font contract
FONT_ASCENT = 718


# non-ASCII glyphs the writer can emit, via ToUnicode-mapped high bytes —
# exercises the parser's CMap path with the ligature set the reference
# expands (text.py:34-42)
LIG_BYTES = {"ﬁ": 0xA1, "ﬂ": 0xA2, "ﬀ": 0xA3, "ﬃ": 0xA4, "ﬄ": 0xA5}

# -- embedded CFF font generation (texts with "font": "F2") -------------
# The /F2 resource is a /FontFile3 (Type1C) program built from scratch:
# one glyph per supported char, each a deterministic seed-derived polygon
# (NOT a real typeface — the point is driving the CFF parse + Type 2
# charstring + rasterize path end-to-end under the driver board).

EMBED_CHARS = ("ABCDEFGHIJKLMNOPQRSTUVWXYZ"
               "abcdefghijklmnopqrstuvwxyz0123456789")
_DIGIT_NAMES = {
    "0": "zero", "1": "one", "2": "two", "3": "three", "4": "four",
    "5": "five", "6": "six", "7": "seven", "8": "eight", "9": "nine",
}


def _t2num(v: int) -> bytes:
    """Encode a Type 2 charstring integer operand."""
    import struct as _struct

    if -107 <= v <= 107:
        return bytes([v + 139])
    if 108 <= v <= 1131:
        v -= 108
        return bytes([247 + (v >> 8), v & 0xFF])
    if -1131 <= v <= -108:
        v = -v - 108
        return bytes([251 + (v >> 8), v & 0xFF])
    return b"\x1c" + _struct.pack(">h", v)


def _glyph_poly(seed: int) -> List[tuple]:
    """Deterministic glyph polygon in font units (0..700 box)."""
    pts = [(60, 40)]
    x, y = pts[0]
    h = 60 + (seed * 53) % 520
    for bit in range(6):
        x += 80
        y2 = 40 + (h if ((seed >> bit) & 1) else h // 3)
        pts.append((x, y2))
        y = y2
    pts.append((x + 40, 40))
    return pts


def _cff_charstring(seed: int) -> bytes:
    pts = _glyph_poly(seed)
    out = bytearray()
    px, py = 0, 0
    out += _t2num(pts[0][0] - px) + _t2num(pts[0][1] - py) + b"\x15"
    px, py = pts[0]
    for (x, y) in pts[1:]:
        out += _t2num(x - px) + _t2num(y - py) + b"\x05"
        px, py = x, y
    out += b"\x0e"  # endchar (implicit close)
    return bytes(out)


def make_cff_font(chars: str = EMBED_CHARS) -> bytes:
    """Deterministic single-font CFF (Type1C) program covering ``chars``
    with standard-named glyphs (AGL-resolvable)."""
    import struct as _struct

    from .cff import STANDARD_STRINGS

    def idx(items):
        if not items:
            return _struct.pack(">H", 0)
        offs = [1]
        for it in items:
            offs.append(offs[-1] + len(it))
        osz = 1 if offs[-1] < 256 else (2 if offs[-1] < 65536 else 3)
        out = _struct.pack(">HB", len(items), osz)
        for o in offs:
            out += o.to_bytes(osz, "big")
        return out + b"".join(items)

    header = bytes([1, 0, 4, 1])
    name_idx = idx([b"SynthEmbed"])
    string_idx = idx([])
    gsubr_idx = idx([])
    sids = []
    charstrings = [b"\x0e"]  # .notdef
    for ch in chars:
        name = _DIGIT_NAMES.get(ch, ch)
        sids.append(STANDARD_STRINGS.index(name))
        charstrings.append(_cff_charstring(ord(ch)))
    cs_idx = idx(charstrings)
    charset = bytes([0]) + b"".join(_struct.pack(">H", s) for s in sids)
    topdict_idx = b""
    for _ in range(2):
        base = (len(header) + len(name_idx) + len(topdict_idx)
                + len(string_idx) + len(gsubr_idx))
        top = (b"\x1d" + _struct.pack(">i", base) + bytes([15])  # charset
               + b"\x1d" + _struct.pack(">i", base + len(charset))
               + bytes([17]))  # CharStrings
        topdict_idx = idx([top])
    return (header + name_idx + topdict_idx + string_idx + gsubr_idx
            + charset + cs_idx)


def _t1_encrypt(plain: bytes, r: int, pad: int = 4) -> bytes:
    """Adobe eexec/charstring ENcryption (inverse of type1._decrypt)."""
    data = b"\x00" * pad + plain
    out = bytearray()
    for p in data:
        c = p ^ (r >> 8)
        out.append(c)
        r = ((c + r) * 52845 + 22719) & 0xFFFF
    return bytes(out)


def _t1num(v: int) -> bytes:
    """Encode a Type 1 charstring integer operand."""
    import struct as _struct

    if -107 <= v <= 107:
        return bytes([v + 139])
    if 108 <= v <= 1131:
        v -= 108
        return bytes([247 + (v >> 8), v & 0xFF])
    if -1131 <= v <= -108:
        v = -v - 108
        return bytes([251 + (v >> 8), v & 0xFF])
    return b"\xff" + _struct.pack(">i", v)


def _t1_charstring(seed: int) -> bytes:
    pts = _glyph_poly(seed)
    out = bytearray()
    out += _t1num(0) + _t1num(600) + bytes([13])  # 0 600 hsbw
    px, py = 0, 0
    out += _t1num(pts[0][0] - px) + _t1num(pts[0][1] - py) + bytes([21])
    px, py = pts[0]
    for (x, y) in pts[1:]:
        out += _t1num(x - px) + _t1num(y - py) + bytes([5])  # rlineto
        px, py = x, y
    out += bytes([9, 14])  # closepath endchar
    return bytes(out)


def make_type1_font(chars: str = EMBED_CHARS) -> bytes:
    """Deterministic Type 1 font program (for /FontFile embedding):
    cleartext header + eexec-encrypted CharStrings, same seed-derived
    polygon glyphs as make_cff_font."""
    entries = []

    def entry(name: str, cs: bytes) -> bytes:
        enc = _t1_encrypt(cs, 4330)
        return (b"/" + name.encode() + b" " + str(len(enc)).encode()
                + b" RD " + enc + b" ND\n")

    entries.append(entry(".notdef",
                         _t1num(0) + _t1num(600) + bytes([13, 14])))
    for ch in chars:
        entries.append(entry(_DIGIT_NAMES.get(ch, ch),
                             _t1_charstring(ord(ch))))
    priv = (b"dup /Private 5 dict dup begin\n"
            b"/RD {string currentfile exch readstring pop} executeonly def\n"
            b"/ND {noaccess def} executeonly def\n"
            b"/CharStrings " + str(len(entries)).encode()
            + b" dict dup begin\n" + b"".join(entries) + b"end\nend\n")
    clear = (b"%!PS-AdobeFont-1.0: SynthType1 1.0\n"
             b"/FontMatrix [0.001 0 0 0.001 0 0] readonly def\n"
             b"/Encoding StandardEncoding def\n"
             b"currentfile eexec\n")
    return clear + _t1_encrypt(priv, 55665)


def image_pixel(seed: int, row: int, col: int, ch: int) -> int:
    """Deterministic sample value for generated image rasters — the single
    definition shared by the writer, the decode tests, and the oracle."""
    return (seed * 131 + row * 31 + col * 17 + ch * 97) % 256


def image_samples(seed: int, pw: int, ph: int, channels: int) -> bytes:
    """Raw interleaved 8-bit samples, row-major (the PDF image data layout
    for BitsPerComponent 8: no row padding)."""
    return bytes(
        image_pixel(seed, r, c, ch)
        for r in range(ph)
        for c in range(pw)
        for ch in range(channels)
    )


def image_codes(seed: int, pw: int, ph: int, channels: int,
                mod: int) -> list:
    """Deterministic sample codes in [0, mod) — sub-byte gray values or
    palette indices."""
    return [
        image_pixel(seed, r, c, ch) % mod
        for r in range(ph)
        for c in range(pw)
        for ch in range(channels)
    ]


def pack_rows(vals: list, width: int, channels: int, bits: int) -> bytes:
    """Pack sample codes into the PDF image layout: MSB-first within each
    byte, every ROW padded to a byte boundary (ISO 32000 §8.9.5.2)."""
    row_samples = width * channels
    out = bytearray()
    for r0 in range(0, len(vals), row_samples):
        acc = nbits = 0
        for v in vals[r0:r0 + row_samples]:
            acc = (acc << bits) | v
            nbits += bits
            while nbits >= 8:
                out.append((acc >> (nbits - 8)) & 0xFF)
                nbits -= 8
        if nbits:
            out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def glyph_width(ch: str) -> int:
    o = ord(ch)
    if 32 <= o <= 126:
        return WIDTHS[o - 32]
    return 556  # MissingWidth for mapped high bytes


def _esc(s: str) -> bytes:
    out = []
    for ch in s:
        o = ord(ch)
        if ch in "()\\":
            out.append("\\" + ch)
        elif 32 <= o <= 126:
            out.append(ch)
        elif ch in LIG_BYTES:
            out.append("\\%03o" % LIG_BYTES[ch])
        else:
            out.append("\\%03o" % (o & 0xFF))
    return "".join(out).encode("latin-1")


def _content_stream(page: Dict) -> bytes:
    h = page["height"]
    tagged = bool(page.get("tagged"))
    parts: List[str] = []
    for i, t in enumerate(page.get("texts", [])):
        size = t.get("size", 12)
        # writer contract: "top" is the glyph-box top; baseline sits at
        # top + ascent*size/1000 below the page top (y up in PDF space)
        baseline_y = h - t["top"] - size * FONT_ASCENT / 1000.0
        chunk = t["text"]
        body = "BT /%s %g Tf 1 0 0 1 %g %g Tm (%s) Tj ET" % (
            t.get("font", "F1"), size, t["x"], baseline_y,
            _esc(chunk).decode("latin-1"),
        )
        if tagged:
            body = "/P <</MCID %d>> BDC %s EMC" % (t.get("mcid", i), body)
        parts.append(body)
    for r in page.get("rects", []):
        y = h - r["bottom"]
        parts.append(
            "%g %g %g %g re S" % (r["x0"], y, r["x1"] - r["x0"], r["bottom"] - r["top"])
        )
    for ln in page.get("lines", []):
        parts.append(
            "%g %g m %g %g l S"
            % (ln["x0"], h - ln["top"], ln["x1"], h - ln["bottom"])
        )
    for cv in page.get("curves", []):
        pts = cv["pts"]
        seg = ["%g %g m" % (pts[0][0], h - pts[0][1])]
        for (x, top) in pts[1:]:
            seg.append("%g %g l" % (x, h - top))
        parts.append(" ".join(seg) + " S")
    for i, im in enumerate(page.get("images", [])):
        # CTM maps the unit square onto the placed box (PDF RM 8.9.5.3)
        y = h - im["top"] - im["h"]
        parts.append(
            "q %g 0 0 %g %g %g cm /Im%d Do Q"
            % (im["w"], im["h"], im["x"], y, i)
        )
    return "\n".join(parts).encode("latin-1")


def make_pdf(pages: List[Dict], info: dict = None) -> bytes:
    """Serialize page specs to deterministic PDF bytes.

    ``info``: document Info dict (/Title etc.); by default a deterministic
    one derived from the content is written (metadata-plan fixture)."""
    objects: List[bytes] = []  # 1-indexed

    def add(obj: bytes) -> int:
        objects.append(obj)
        return len(objects)

    # ToUnicode CMap for the mapped high bytes (bfchar entries)
    bfchars = "".join(
        "<%02X> <%04X>\n" % (b, ord(ch)) for ch, b in sorted(LIG_BYTES.items())
    )
    cmap = (
        "/CIDInit /ProcSet findresource begin 12 dict begin begincmap\n"
        "1 begincodespacerange <00> <FF> endcodespacerange\n"
        f"{len(LIG_BYTES)} beginbfchar\n{bfchars}endbfchar\n"
        "endcmap end end"
    ).encode("latin-1")
    tounicode_num = add(
        b"<</Length " + str(len(cmap)).encode() + b">>\nstream\n" + cmap
        + b"\nendstream"
    )
    font_num = add(
        b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica/Encoding/WinAnsiEncoding"
        b"/FirstChar 32/LastChar 126/Widths[" +
        b" ".join(str(w).encode() for w in WIDTHS) +
        b"]/ToUnicode %d 0 R" % tounicode_num +
        b"/FontDescriptor <</Type/FontDescriptor/FontName/Helvetica/Flags 32"
        b"/Ascent 718/Descent -212/CapHeight 718/ItalicAngle 0/StemV 88"
        b"/MissingWidth 556"
        b"/FontBBox[-166 -225 1000 931]>> >>"
    )
    # embedded-font resources, only when a text run asks for them:
    # /F2 = CFF (FontFile3, Type1C), /F3 = Type 1 (FontFile, eexec)
    def _embed_font(basefont: bytes, file_key: bytes, stream_obj: bytes):
        ff_num = add(stream_obj)
        return add(
            b"<</Type/Font/Subtype/Type1/BaseFont/" + basefont +
            b"/Encoding/WinAnsiEncoding/FirstChar 32/LastChar 126/Widths["
            + b" ".join(str(w).encode() for w in WIDTHS) +
            b"]/FontDescriptor <</Type/FontDescriptor/FontName/" + basefont +
            b"/Flags 32/Ascent 718/Descent -212/CapHeight 718/ItalicAngle 0"
            b"/StemV 88/MissingWidth 556/FontBBox[0 0 700 700]"
            b"/" + file_key + b" %d 0 R>> >>" % ff_num
        )

    used_fonts = {t.get("font") for p in pages for t in p.get("texts", [])}
    f2_num = f3_num = None
    if "F2" in used_fonts:
        cff = make_cff_font()
        f2_num = _embed_font(
            b"SynthEmbed", b"FontFile3",
            b"<</Subtype/Type1C/Length " + str(len(cff)).encode()
            + b">>\nstream\n" + cff + b"\nendstream")
    if "F3" in used_fonts:
        t1 = make_type1_font()
        clear_len = t1.index(b"eexec\n") + 6
        f3_num = _embed_font(
            b"SynthType1", b"FontFile",
            b"<</Length1 %d/Length2 %d/Length3 0/Length %d>>"
            % (clear_len, len(t1) - clear_len, len(t1))
            + b"\nstream\n" + t1 + b"\nendstream")

    page_nums = []
    content_nums = []
    annot_nums: List[List[int]] = []
    image_nums: List[List[int]] = []
    for p in pages:
        raw = _content_stream(p)
        comp = zlib.compress(raw, 9)
        cn = add(
            b"<</Length " + str(len(comp)).encode() + b"/Filter/FlateDecode>>\nstream\n"
            + comp + b"\nendstream"
        )
        content_nums.append(cn)
        inums = []
        for im in p.get("images", []):
            pw, ph = im.get("pw", 8), im.get("ph", 8)
            channels = im.get("channels", 3)
            bits = im.get("bits", 8)
            seed = im.get("seed", 0)
            palette = im.get("palette")  # list of (r,g,b) -> Indexed
            if palette is not None:
                import binascii

                idx = image_codes(seed, pw, ph, 1, len(palette))
                raw = pack_rows(idx, pw, 1, bits)
                pal = b"".join(bytes(t) for t in palette)
                cs = b" [/Indexed/DeviceRGB %d <%s>]" % (
                    len(palette) - 1, binascii.hexlify(pal).upper()
                )
            elif bits != 8:
                raw = pack_rows(
                    image_codes(seed, pw, ph, 1, 1 << bits), pw, 1, bits
                )
                cs = b"/DeviceGray"
            else:
                raw = image_samples(seed, pw, ph, channels)
                cs = {3: b"/DeviceRGB", 4: b"/DeviceCMYK"}.get(
                    channels, b"/DeviceGray"
                )
            parms = b""
            if im.get("format", "flate") == "dct":
                # fake JPEG: DCTDecode payload the engine must classify as
                # unsupported (real JPEG decode needs an imaging lib)
                body = b"\xff\xd8\xff\xe0" + raw
                filt = b"/DCTDecode"
            elif im.get("format") == "jpeg":
                # REAL baseline JPEG (kernel/jpeg.py encoder): gray
                # pixels from the shared deterministic definition; the
                # oracle re-decodes the stream with the same kernel
                # (distribution check; pixel correctness is gated by the
                # codec's roundtrip + real-fixture tests)
                import numpy as _np

                from .jpeg import jpeg_encode_gray, jpeg_encode_gray_progressive

                bits = 8
                cs = b"/DeviceGray"
                codes = image_codes(seed, pw, ph, 1, 256)
                arr = _np.array(codes, dtype=_np.uint8).reshape(ph, pw)
                # progressive=True emits SOF2 (same all-ones quant ->
                # identical decoded pixels as the baseline stream)
                body = (jpeg_encode_gray_progressive(arr)
                        if im.get("progressive") else jpeg_encode_gray(arr))
                filt = b"/DCTDecode"
            elif im.get("format") == "ccitt":
                # Group 4 fax raster: 1-bit DeviceGray, PDF-default
                # polarity (0 = black). The encoder input marks BLACK
                # pixels, so a pixel whose shared-definition code is 0
                # (dark) is black — decoded sample codes then equal
                # image_codes(seed, pw, ph, 1, 2) exactly, the same
                # ground truth the sub-byte gray family uses.
                from .ccitt import ccitt_g3_encode, ccitt_g4_encode

                bits = 1
                cs = b"/DeviceGray"
                codes = image_codes(seed, pw, ph, 1, 2)
                black = [
                    [1 - codes[r * pw + c] for c in range(pw)]
                    for r in range(ph)
                ]
                # ccitt_k selects the coding regime: -1 (default) = G4,
                # 0 = G3 1-D, >0 = mixed G3 2-D; G3 streams carry FILL
                # zeros before each EOL (T.4 §4.1.2) so decoders must
                # exercise the fill-tolerant EOL scan
                ck = int(im.get("ccitt_k", -1))
                if ck < 0:
                    body = ccitt_g4_encode(black, pw, ph)
                else:
                    body = ccitt_g3_encode(
                        black, pw, ph, k=ck, fill=(seed % 7)
                    )
                filt = b"/CCITTFaxDecode"
                parms = (
                    b"/DecodeParms<</K %d/Columns %d/Rows %d>>"
                    % (ck, pw, ph)
                )
            elif im.get("format") == "jbig2":
                # REAL embedded JBIG2 (kernel/jbig2.py MQ encoder):
                # 1-bit raster, pixel 1 = black, same shared ground
                # truth as the CCITT family (code 0 = black)
                from .jbig2 import encode_embedded

                bits = 1
                cs = b"/DeviceGray"
                codes = image_codes(seed, pw, ph, 1, 2)
                black = [
                    [1 - codes[r * pw + c] for c in range(pw)]
                    for r in range(ph)
                ]
                # v25: seed also alternates T.6 MMR coding vs the
                # arithmetic template-0 path (both real-world classes)
                body = encode_embedded(
                    black, pw, ph, tpgdon=bool(seed % 2),
                    mmr=bool((seed >> 2) % 2))
                filt = b"/JBIG2Decode"
            elif im.get("format") == "jbig2_text":
                # REAL embedded JBIG2 SYMBOL DICTIONARY + TEXT REGION
                # (T.88 §6.4/§6.5 — the structure real scanned PDFs
                # use). Symbols + placements derive deterministically
                # from the shared ground truth; the oracle re-decodes
                # the stream with the same kernel (jbig2 precedent).
                from .jbig2 import encode_text_embedded

                bits = 1
                cs = b"/DeviceGray"
                syms = []
                for k in range(3):
                    sw, sh = 3 + k, 4 + (seed + k) % 3
                    codes = image_codes(seed + 17 * k, sw, sh, 1, 2)
                    syms.append([
                        [1 - codes[r * sw + c] for c in range(sw)]
                        for r in range(sh)
                    ])
                placements = [
                    (i % 3,
                     (seed + i * 7) % max(1, pw - 6),
                     (seed // 3 + i * 5) % max(1, ph - 7))
                    for i in range(6)
                ]
                body = encode_text_embedded(syms, placements, pw, ph)
                filt = b"/JBIG2Decode"
            elif im.get("format") == "cmyk_jpeg":
                # REAL 4-component Adobe CMYK/YCCK JPEG
                # (kernel/jpeg.py): all-ones quant over the shared
                # ground truth; transform 0 (inverted CMYK) for even
                # seeds, 2 (YCCK) for odd. The YCbCr pair is lossy by
                # ±2, so ground truth uses a coarse code grid the
                # roundtrip preserves exactly after rounding.
                import numpy as _np

                from .jpeg import jpeg_encode_cmyk

                bits = 8
                cs = b"/DeviceCMYK"
                codes = image_codes(seed, pw, ph, 4, 16)
                cmyk = (_np.array(codes, dtype=_np.uint8)
                        .reshape(ph, pw, 4) * 17)
                body = jpeg_encode_cmyk(cmyk, transform=2 if seed % 2
                                        else 0)
                filt = b"/DCTDecode"
            elif im.get("format") == "jpx":
                # REAL embedded JPEG 2000 (kernel/jpx.py encoder):
                # reversible 5/3 so the decoded samples equal the shared
                # deterministic ground truth bit-exactly. Gray or RGB
                # per im["channels"]; seed varies the container (raw
                # J2K codestream vs JP2 box wrap) and progression order.
                import numpy as _np

                from .jpx import jpx_encode

                bits = 8
                if channels == 3:
                    cs = b"/DeviceRGB"
                    arr = _np.frombuffer(
                        image_samples(seed, pw, ph, 3), _np.uint8
                    ).reshape(ph, pw, 3)
                else:
                    cs = b"/DeviceGray"
                    arr = _np.array(
                        image_codes(seed, pw, ph, 1, 256), dtype=_np.uint8
                    ).reshape(ph, pw)
                body = jpx_encode(
                    arr, reversible=True, prog=seed % 5,
                    jp2=bool(seed % 2),
                    # v24: odd seed//2 exercises the selective
                    # arithmetic bypass style (T.800 D.6)
                    bypass=bool((seed >> 1) % 2),
                )
                filt = b"/JPXDecode"
            else:
                body = zlib.compress(raw, 9)
                filt = b"/FlateDecode"
            inums.append(
                add(
                    b"<</Type/XObject/Subtype/Image/Width %d/Height %d"
                    b"/ColorSpace%s/BitsPerComponent %d/Filter%s%s/Length %d>>"
                    b"\nstream\n%s\nendstream"
                    % (pw, ph, cs, bits, filt, parms, len(body), body)
                )
            )
        image_nums.append(inums)
        nums = []
        h = p["height"]
        for lk in p.get("links", []):
            nums.append(
                add(
                    (
                        "<</Type/Annot/Subtype/Link/Rect[%g %g %g %g]"
                        "/A<</S/URI/URI(%s)>>>>"
                        % (lk["x0"], h - lk["bottom"], lk["x1"], h - lk["top"],
                           _esc(lk["uri"]).decode("latin-1"))
                    ).encode()
                )
            )
        annot_nums.append(nums)
        page_nums.append(None)  # placeholder

    pages_tree_num = len(objects) + len(pages) + 1
    for i, p in enumerate(pages):
        annots_part = ""
        if annot_nums[i]:
            annots_part = "/Annots[" + " ".join(
                f"{n} 0 R" for n in annot_nums[i]
            ) + "]"
        xobj_part = ""
        if image_nums[i]:
            xobj_part = "/XObject<<" + "".join(
                f"/Im{k} {n} 0 R" for k, n in enumerate(image_nums[i])
            ) + ">>"
        fonts_part = "/F1 %d 0 R" % font_num
        if f2_num is not None:
            fonts_part += "/F2 %d 0 R" % f2_num
        if f3_num is not None:
            fonts_part += "/F3 %d 0 R" % f3_num
        pn = add(
            (
                "<</Type/Page/Parent %d 0 R/MediaBox[0 0 %g %g]%s%s"
                "/Resources<</Font<<%s>>%s>>/Contents %d 0 R>>"
                % (
                    pages_tree_num, p["width"], p["height"],
                    "/Rotate %d" % p["rotate"] if p.get("rotate") else "",
                    annots_part, fonts_part, xobj_part, content_nums[i],
                )
            ).encode()
        )
        page_nums[i] = pn

    kids = b"[" + b" ".join(b"%d 0 R" % n for n in page_nums) + b"]"
    ptn = add(
        b"<</Type/Pages/Kids" + kids + b"/Count " + str(len(pages)).encode() + b">>"
    )
    assert ptn == pages_tree_num

    # optional Tagged-PDF structure tree. ``tagged: True`` -> flat
    # Document/P per text. ``tagged: "rich"`` -> Document/Sect nesting with
    # the first text role-mapped (/Heading via /RoleMap -> /H1), exercising
    # the RoleMap + nested-K paths of the structure reader distributed.
    struct_root_num = None
    rich = any(p.get("tagged") == "rich" for p in pages)
    if any(p.get("tagged") for p in pages):
        doc_kids = []
        for i, p in enumerate(pages):
            if not p.get("tagged"):
                continue
            n_texts = len(p.get("texts", []))
            if p.get("tagged") == "rich" and n_texts:
                head = add(
                    b"<</Type/StructElem/S/Heading/Pg %d 0 R/K 0>>"
                    % page_nums[i]
                )
                body = [
                    add(
                        b"<</Type/StructElem/S/P/Pg %d 0 R/K %d>>"
                        % (page_nums[i], mcid)
                    )
                    for mcid in range(1, n_texts)
                ]
                doc_kids.append(
                    add(
                        b"<</Type/StructElem/S/Sect/K["
                        + b" ".join(b"%d 0 R" % n for n in [head] + body)
                        + b"]>>"
                    )
                )
            else:
                # one P per UNIQUE mcid (texts may share an mcid via the
                # per-text "mcid" key), in first-appearance order
                mcids = list(dict.fromkeys(
                    t.get("mcid", j)
                    for j, t in enumerate(p.get("texts", []))
                ))
                doc_kids.extend(
                    add(
                        b"<</Type/StructElem/S/P/Pg %d 0 R/K %d>>"
                        % (page_nums[i], mcid)
                    )
                    for mcid in mcids
                )
        doc_elem = add(
            b"<</Type/StructElem/S/Document/K["
            + b" ".join(b"%d 0 R" % n for n in doc_kids)
            + b"]>>"
        )
        rolemap = b"/RoleMap<</Heading/H1>>" if rich else b""
        struct_root_num = add(
            b"<</Type/StructTreeRoot%s/K %d 0 R>>" % (rolemap, doc_elem)
        )
    root_body = b"<</Type/Catalog/Pages %d 0 R" % pages_tree_num
    if struct_root_num:
        root_body += b"/StructTreeRoot %d 0 R/MarkInfo<</Marked true>>" % struct_root_num
    root = add(root_body + b">>")

    # document Info dict (reference pdf.py:28-63 reads it as .metadata)
    if info is None:
        import hashlib as _hl

        content_id = _hl.md5(b"".join(objects)).hexdigest()[:10]
        info = {
            "Title": "synthetic doc %s" % content_id,
            "Producer": "pdfplumber-spark synth",
            "CreationDate": "D:20260101000000Z",
        }
    info_num = None
    if info:
        body = b"<<"
        for k, v in info.items():
            body += b"/" + str(k).encode("latin-1")
            if isinstance(v, (int, float)):
                body += b" " + (b"%g" % v)
            else:
                body += b"(" + _esc(str(v)) + b")"
        info_num = add(body + b">>")

    # imported here: pdfparse, which the writer builds on, imports this
    # module's font metrics
    from .pdfparse import Ref
    from .pdfwrite import write_pdf

    trailer = {"Root": Ref(root, 0)}
    if info_num:
        trailer["Info"] = Ref(info_num, 0)
    return write_pdf(b"%PDF-1.4\n", dict(enumerate(objects, start=1)), trailer)
