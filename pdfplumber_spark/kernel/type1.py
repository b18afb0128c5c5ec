"""From-scratch Type 1 font parser (/FontFile) + Type 1 charstring
interpreter, for embedded-glyph rendering of the oldest PDF font class
(TeX Computer Modern, URW base-35 clones, ...).

Public sources only: Adobe "Type 1 Font Format" (the black book) —
eexec encryption (r=55665), charstring encryption (r=4330, lenIV skip),
the Type 1 charstring opcode set, and the OtherSubrs flex/hint-
replacement protocol.  The reference (pdfplumber display.py) gets this
via pypdfium2; here the parsed outlines feed the same scanline
rasterizer as TrueType/CFF through the shared duck-typed surface:
``units_per_em`` / ``descender`` / ``glyph_id`` / ``glyph_outline``.

Outlines are cubic Beziers flattened to all on-curve polylines.
"""

from __future__ import annotations

import re
import struct
from typing import Dict, List, Optional, Tuple

__all__ = ["Type1Error", "Type1Font"]


class Type1Error(Exception):
    pass


def _decrypt(data: bytes, r: int, skip: int) -> bytes:
    """Adobe eexec/charstring decryption (black book §7.2)."""
    c1, c2 = 52845, 22719
    out = bytearray()
    for b in data:
        out.append(b ^ (r >> 8))
        r = ((b + r) * c1 + c2) & 0xFFFF
    return bytes(out[skip:])


_RD_CS = re.compile(
    rb"/([^\s/{()\[\]<>]+)\s+(\d+)\s+(?:RD|-\|)[ ]", re.S)
_RD_SUBR = re.compile(rb"dup\s+(\d+)\s+(\d+)\s+(?:RD|-\|)[ ]", re.S)


class Type1Font:
    """Parsed Type 1 font program (PFA/PFB body of a /FontFile)."""

    CURVE_STEPS = 6

    def __init__(self, data: bytes, length1: Optional[int] = None,
                 length2: Optional[int] = None):
        data = bytes(data)
        if length1 is None:
            m = re.search(rb"\beexec\b", data)
            if not m:
                raise Type1Error("no eexec section")
            length1 = m.end()
            while length1 < len(data) and data[length1] in b"\r\n\t ":
                length1 += 1
        clear = data[:length1]
        enc = data[length1:length1 + length2] if length2 else data[length1:]
        # eexec body may be ASCII-hex (PFA): all hex digits/whitespace
        probe = bytes(enc[:16]).translate(None, b"0123456789abcdefABCDEF \r\n\t")
        if not probe and enc[:4] not in (b"",):
            hexbody = re.sub(rb"[^0-9a-fA-F]", b"", enc)
            enc = bytes.fromhex(hexbody.decode("ascii"))
        priv = _decrypt(enc, 55665, 4)
        self._parse_clear(clear)
        self._parse_private(priv)
        self.descender = None
        self._uni2gid: Optional[Dict[int, int]] = None
        self._outline_cache: Dict[int, List] = {}

    # -- parsing -------------------------------------------------------

    def _parse_clear(self, clear: bytes):
        m = re.search(
            rb"/FontMatrix\s*\[([-0-9.eE\s]+)\]", clear)
        sx = 0.001
        if m:
            try:
                vals = [float(v) for v in m.group(1).split()]
                if vals and vals[0]:
                    sx = abs(vals[0])
            except ValueError:
                pass
        self.units_per_em = round(1.0 / sx) if sx else 1000
        # /Encoding: StandardEncoding or explicit dup entries
        self._code2name: Dict[int, str] = {}
        if re.search(rb"/Encoding\s+StandardEncoding\b", clear):
            self._std_encoding = True
        else:
            self._std_encoding = False
            for code, name in re.findall(
                    rb"dup\s+(\d+)\s*/([^\s/]+)\s+put", clear):
                self._code2name[int(code)] = name.decode("latin-1")

    def _parse_private(self, priv: bytes):
        m = re.search(rb"/lenIV\s+(\d+)", priv)
        leniv = int(m.group(1)) if m else 4
        # Binary runs can embed byte sequences that look like the next
        # "/name N RD" token; a match is only real if the declared
        # length lands on an ND/NP/|-/| terminator.
        def _terminated(end: int) -> bool:
            tail = priv[end:end + 8]
            return bool(re.match(rb"\s*(ND|NP|noaccess|readonly|\|-|\|)",
                                 tail))

        # Subrs: dup <idx> <len> RD <bytes> NP
        self.subrs: Dict[int, bytes] = {}
        msub = re.search(rb"/Subrs\s+(\d+)", priv)
        if msub:
            pos = msub.end()
            count = int(msub.group(1))
            while len(self.subrs) < count:
                mm = _RD_SUBR.search(priv, pos)
                if not mm:
                    break
                idx, ln = int(mm.group(1)), int(mm.group(2))
                if not _terminated(mm.end() + ln):
                    pos = mm.start() + 1
                    continue
                raw = priv[mm.end():mm.end() + ln]
                self.subrs.setdefault(idx, _decrypt(raw, 4330, leniv))
                pos = mm.end() + ln
        # CharStrings: /name <len> RD <bytes> ND
        self.charstrings: Dict[str, bytes] = {}
        self._gid2name: List[str] = []
        mcs = re.search(rb"/CharStrings\s+(\d+)", priv)
        pos = mcs.end() if mcs else 0
        while True:
            mm = _RD_CS.search(priv, pos)
            if not mm:
                break
            name = mm.group(1).decode("latin-1")
            ln = int(mm.group(2))
            if not _terminated(mm.end() + ln):
                pos = mm.start() + 1
                continue
            raw = priv[mm.end():mm.end() + ln]
            if name not in self.charstrings:
                self.charstrings[name] = _decrypt(raw, 4330, leniv)
                self._gid2name.append(name)
            pos = mm.end() + ln
        if not self.charstrings:
            raise Type1Error("no CharStrings")
        self.nglyphs = len(self._gid2name)

    # -- duck-typed font surface --------------------------------------

    def glyph_name(self, gid: int) -> str:
        if 0 <= gid < len(self._gid2name):
            return self._gid2name[gid]
        return ""

    def glyph_id(self, codepoint: int) -> Optional[int]:
        if self._uni2gid is None:
            from .pdfparse import glyphname_to_unicode

            u2g: Dict[int, int] = {}
            for gid, name in enumerate(self._gid2name):
                u = glyphname_to_unicode(name)
                if u and len(u) == 1:
                    u2g.setdefault(ord(u), gid)
            self._uni2gid = u2g
        return self._uni2gid.get(codepoint)

    def glyph_outline(
        self, gid: int
    ) -> List[List[Tuple[float, float, bool]]]:
        if gid in self._outline_cache:
            return self._outline_cache[gid]
        name = self.glyph_name(gid)
        if not name:
            return []
        try:
            contours = self._run(name)
        except (Type1Error, IndexError, ZeroDivisionError, struct.error):
            contours = []
        out = [[(x, y, True) for (x, y) in c] for c in contours
               if len(c) >= 3]
        self._outline_cache[gid] = out
        return out

    def _run(self, name: str) -> List[List[Tuple[float, float]]]:
        code = self.charstrings.get(name)
        if code is None:
            return []
        st = _T1State(self)
        st.execute(code)
        st.close_contour()
        if st.seac is not None:
            asb, adx, ady, bchar, achar = st.seac
            from .cff import _STD_ENCODING, STANDARD_STRINGS

            contours: List[List[Tuple[float, float]]] = []
            for code_pt, dx, dy in ((int(bchar), 0.0, 0.0),
                                    (int(achar), adx - asb + st.sbx, ady)):
                sid = _STD_ENCODING.get(code_pt)
                if sid is None:
                    continue
                for c in self._run(STANDARD_STRINGS[sid]):
                    contours.append([(x + dx, y + dy) for (x, y) in c])
            return contours
        return st.contours


class _T1State:
    """Execution state for one Type 1 charstring."""

    __slots__ = ("font", "stack", "ps_stack", "x", "y", "contours",
                 "cur", "depth", "seac", "sbx", "flex_pts", "in_flex",
                 "done")

    MAX_DEPTH = 12

    def __init__(self, font: Type1Font):
        self.font = font
        self.stack: List[float] = []
        self.ps_stack: List[float] = []
        self.x = 0.0
        self.y = 0.0
        self.contours: List[List[Tuple[float, float]]] = []
        self.cur: List[Tuple[float, float]] = []
        self.depth = 0
        self.seac = None
        self.sbx = 0.0
        self.flex_pts: List[Tuple[float, float]] = []
        self.in_flex = False
        self.done = False

    def close_contour(self):
        if len(self.cur) >= 2:
            self.contours.append(self.cur)
        self.cur = []

    def moveto(self, dx: float, dy: float):
        self.x += dx
        self.y += dy
        if self.in_flex:
            self.flex_pts.append((self.x, self.y))
            return
        self.close_contour()
        self.cur = [(self.x, self.y)]

    def lineto(self, dx: float, dy: float):
        self.x += dx
        self.y += dy
        self.cur.append((self.x, self.y))

    def curveto(self, dxa, dya, dxb, dyb, dxc, dyc):
        x0, y0 = self.x, self.y
        self._curve_abs(x0 + dxa, y0 + dya,
                        x0 + dxa + dxb, y0 + dya + dyb,
                        x0 + dxa + dxb + dxc, y0 + dya + dyb + dyc)

    def _curve_abs(self, x1, y1, x2, y2, x3, y3):
        x0, y0 = self.x, self.y
        steps = Type1Font.CURVE_STEPS
        for s in range(1, steps + 1):
            t = s / steps
            mt = 1.0 - t
            self.cur.append((
                mt * mt * mt * x0 + 3 * mt * mt * t * x1
                + 3 * mt * t * t * x2 + t * t * t * x3,
                mt * mt * mt * y0 + 3 * mt * mt * t * y1
                + 3 * mt * t * t * y2 + t * t * t * y3,
            ))
        self.x, self.y = x3, y3

    def execute(self, code: bytes):  # noqa: C901 — spec-table dispatch
        self.depth += 1
        if self.depth > self.MAX_DEPTH:
            raise Type1Error("subr recursion")
        i = 0
        n = len(code)
        while i < n and not self.done:
            b0 = code[i]
            if b0 >= 32:
                if b0 <= 246:
                    self.stack.append(b0 - 139)
                    i += 1
                elif b0 <= 250:
                    self.stack.append((b0 - 247) * 256 + code[i + 1] + 108)
                    i += 2
                elif b0 <= 254:
                    self.stack.append(
                        -(b0 - 251) * 256 - code[i + 1] - 108)
                    i += 2
                else:  # 255: 32-bit int
                    (v,) = struct.unpack(">i", code[i + 1:i + 5])
                    self.stack.append(float(v))
                    i += 5
                continue
            i += 1
            s = self.stack
            if b0 == 13:  # hsbw: sbx wx
                if len(s) >= 2:
                    self.sbx = s[0]
                    self.x = s[0]
                    self.y = 0.0
                self.stack = []
            elif b0 == 9:  # closepath
                self.close_contour()
                self.cur = [(self.x, self.y)]
            elif b0 in (1, 3):  # hstem / vstem
                self.stack = []
            elif b0 == 21:  # rmoveto
                if len(s) >= 2:
                    self.moveto(s[-2], s[-1])
                self.stack = []
            elif b0 == 22:  # hmoveto
                if s:
                    self.moveto(s[-1], 0.0)
                self.stack = []
            elif b0 == 4:  # vmoveto
                if s:
                    self.moveto(0.0, s[-1])
                self.stack = []
            elif b0 == 5:  # rlineto
                if len(s) >= 2:
                    self.lineto(s[-2], s[-1])
                self.stack = []
            elif b0 == 6:  # hlineto (single)
                if s:
                    self.lineto(s[-1], 0.0)
                self.stack = []
            elif b0 == 7:  # vlineto (single)
                if s:
                    self.lineto(0.0, s[-1])
                self.stack = []
            elif b0 == 8:  # rrcurveto
                if len(s) >= 6:
                    self.curveto(*s[-6:])
                self.stack = []
            elif b0 == 30:  # vhcurveto: dy1 dx2 dy2 dx3
                if len(s) >= 4:
                    self.curveto(0.0, s[-4], s[-3], s[-2], s[-1], 0.0)
                self.stack = []
            elif b0 == 31:  # hvcurveto: dx1 dx2 dy2 dy3
                if len(s) >= 4:
                    self.curveto(s[-4], 0.0, s[-3], s[-2], 0.0, s[-1])
                self.stack = []
            elif b0 == 10:  # callsubr (no bias in Type 1)
                if s:
                    idx = int(s.pop())
                    sub = self.font.subrs.get(idx)
                    if sub is not None:
                        self.execute(sub)
            elif b0 == 11:  # return
                self.depth -= 1
                return
            elif b0 == 14:  # endchar
                self.done = True
                self.depth -= 1
                return
            elif b0 == 12:
                i = self._escape(code, i)
            else:  # reserved
                self.stack = []
        self.depth -= 1

    def _escape(self, code: bytes, i: int) -> int:  # noqa: C901
        b1 = code[i]
        i += 1
        s = self.stack
        if b1 == 6 and len(s) >= 5:  # seac
            self.seac = tuple(s[-5:])
            self.stack = []
            self.done = True
        elif b1 == 7 and len(s) >= 4:  # sbw: sbx sby wx wy
            self.sbx = s[0]
            self.x, self.y = s[0], s[1]
            self.stack = []
        elif b1 == 12:  # div
            if len(s) >= 2:
                b = s.pop()
                a = s.pop()
                s.append(a / b if b else 0.0)
        elif b1 == 16:  # callothersubr
            self._othersubr()
        elif b1 == 17:  # pop
            s.append(self.ps_stack.pop() if self.ps_stack else 0.0)
        elif b1 == 33 and len(s) >= 2:  # setcurrentpoint
            self.x, self.y = s[-2], s[-1]
            self.stack = []
        elif b1 in (0, 1, 2):  # dotsection / vstem3 / hstem3
            self.stack = []
        else:
            self.stack = []
        return i

    def _othersubr(self):
        """OtherSubrs protocol (black book §8.3): flex (#0-#2), hint
        replacement (#3)."""
        s = self.stack
        if len(s) < 2:
            self.stack = []
            return
        othersubr = int(s.pop())
        nargs = int(s.pop())
        args = s[-nargs:] if nargs else []
        del s[len(s) - nargs:]
        if othersubr == 1:  # flex start: following rmovetos accumulate
            self.in_flex = True
            self.flex_pts = []
        elif othersubr == 2:  # one flex point banked
            pass
        elif othersubr == 0:  # flex end: 7 pts -> two cubics
            self.in_flex = False
            p = self.flex_pts
            if len(p) >= 7:
                # p[0] is the reference midpoint; p[1..3] and p[4..6]
                # are the two curves' controls+endpoints (absolute)
                self._curve_abs(p[1][0], p[1][1], p[2][0], p[2][1],
                                p[3][0], p[3][1])
                self._curve_abs(p[4][0], p[4][1], p[5][0], p[5][1],
                                p[6][0], p[6][1])
            # the two following pops read back the final point
            self.ps_stack = [self.y, self.x]
            self.flex_pts = []
        elif othersubr == 3:  # hint replacement: pop returns subr#
            self.ps_stack = [args[-1] if args else 3.0]
        else:
            # unknown OtherSubr: mirror args back for any pops
            self.ps_stack = list(reversed(args))
