"""From-scratch minimal PDF parser -> char/line/rect/curve object rows.

Public-knowledge implementation of the PDF 1.x object model and content
stream interpreter (ISO 32000 subset), with pdfminer-equivalent char
geometry so the emitted rows carry the same attribute semantics the
reference consumes (``/root/reference/pdfplumber/page.py:335-400``):
top-left-origin coordinates (y flip at the page boundary), ``doctop``,
``adv``/``size``/``upright`` per char, edges derivable from rect/line/curve.

Supported: classic xref tables (+ /Prev chains), xref streams (PDF 1.5,
W-array + PNG Up/Sub predictors), object streams (ObjStm), FlateDecode,
dict/array/name/number/(hex)string/ref syntax, page-tree inheritance,
simple fonts with /Widths + /FirstChar (fallback width table), WinAnsi/
builtin encodings, and the text + path subset of the content stream
operator set. Not supported (emit nothing rather than fail): embedded
CMaps beyond bfchar/bfrange, shading, inline images, encryption.
"""

from __future__ import annotations

import math
import re
import sys
import zlib
from typing import Dict, List, Optional, Tuple

import numpy as np
import pandas as pd

from .pdfgen import FONT_ASCENT, FONT_DESCENT, WIDTHS
from .words import NUM_FIELDS, STYLE_ATTRS, CharArrays

MATRIX_ID = (1, 0, 0, 1, 0, 0)  # ints, pdfminer MATRIX_IDENTITY parity
_NUM_TYPES = frozenset((int, float))
_FLOAT_MAX = sys.float_info.max


def mat_mult(m1, m0):
    """Apply m1 then m0 (pdfminer convention: mult_matrix(m1, m0))."""
    a1, b1, c1, d1, e1, f1 = m1
    a0, b0, c0, d0, e0, f0 = m0
    return (
        a1 * a0 + b1 * c0,
        a1 * b0 + b1 * d0,
        c1 * a0 + d1 * c0,
        c1 * b0 + d1 * d0,
        e1 * a0 + f1 * c0 + e0,
        e1 * b0 + f1 * d0 + f0,
    )


def mat_translate(m, x, y):
    a, b, c, d, e, f = m
    return (a, b, c, d, x * a + y * c + e, x * b + y * d + f)


def mat_apply(m, x, y):
    a, b, c, d, e, f = m
    return (a * x + c * y + e, b * x + d * y + f)


class Name(str):
    """PDF name object (distinct from strings)."""


class Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num, gen):
        self.num = num
        self.gen = gen

    def __repr__(self):
        return f"Ref({self.num},{self.gen})"


class BoundRef(Ref):
    """A Ref that remembers its document, exposing the pdfminer-style
    ``.resolve()`` the reference's ``utils.resolve`` relies on
    (``utils/pdfinternals.py:44-48``).  Only used on user-facing surfaces
    (annotation ``data``); the parser core stays on plain Refs."""

    __slots__ = ("doc",)

    def __init__(self, num, gen, doc):
        super().__init__(num, gen)
        self.doc = doc

    def resolve(self):
        return bind_refs(self.doc.resolve(Ref(self.num, self.gen)), self.doc)


def bind_refs(v, doc, depth: int = 0):
    """Recursively copy a parsed object, binding bare Refs to ``doc`` so
    downstream ``utils.resolve`` works without a document in hand."""
    if isinstance(v, BoundRef) or depth > 8:
        return v
    if isinstance(v, Ref):
        return BoundRef(v.num, v.gen, doc)
    if isinstance(v, dict):
        return {k: bind_refs(x, doc, depth + 1) for k, x in v.items()}
    if isinstance(v, list):
        return [bind_refs(x, doc, depth + 1) for x in v]
    return v


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"

_KW_CACHE: Dict[str, tuple] = {}


class _Memo(dict):
    """``fn(key)``, computed on a key's first lookup and kept while the
    memo holds fewer than ``limit`` keys. Read per glyph or token as
    ``memo[key]`` or ``map(memo.__getitem__, keys)``: a hit costs about
    half of a ``functools.cache`` call (28 vs 58 ns on CPython 3.11)."""

    __slots__ = ("fn", "limit")

    def __init__(self, fn, limit: Optional[int] = None):
        super().__init__()
        self.fn = fn
        self.limit = limit

    def __missing__(self, key):
        v = self.fn(key)
        if self.limit is None or len(self) < self.limit:
            self[key] = v
        return v


def _name(raw: bytes) -> "Name":
    """A name token's value (after its '/'), ``#xx`` escapes decoded."""
    if b"#" in raw:
        raw = re.sub(rb"#([0-9A-Fa-f]{2})",
                     lambda m: bytes([int(m.group(1), 16)]), raw)
    return Name(raw.decode("latin-1"))


def _content_number(t: bytes):
    """A content-stream number token's value: a float if it has a '.'."""
    return float(t) if b"." in t else int(t)


# names (/Tf /F1 /Length ...) and content-stream numbers repeat heavily:
# each token is decoded once
_NAMES = _Memo(_name, 8192)
_NUMS = _Memo(_content_number, 16384)


def _number_run(run: bytes):
    """The values of whitespace-separated number tokens (each with at most
    one '.'), by :func:`_content_number`'s rule: all ints or all floats in
    one C-level map, a mix through the memo."""
    parts = run.split()
    dots = run.count(b".")
    if not dots:
        return map(int, parts)
    if dots == len(parts):
        return map(float, parts)
    return map(_NUMS.__getitem__, parts)


def _intern_kw(op: str) -> tuple:
    kw = _KW_CACHE.get(op)
    if kw is None:
        kw = ("kw", op)
        if len(_KW_CACHE) < 4096:
            _KW_CACHE[op] = kw
    return kw


# one-shot lexer regex: leading ws/comments + one token, told apart by its
# group number. What the groups leave (a string, a hex string, a bare '>',
# a keyword opening with ')', the end of the data) matches group 7 and
# goes to Lexer._next_token_slow.
_LEX_RE = re.compile(
    # the ws/comment prefix is ATOMIC (possessive, Python 3.11+): with a
    # backtrackable `(?:[ws]+|%…)*` a long NUL/space run followed by a
    # char no token group accepts (e.g. `(`) explodes combinatorially —
    # issue-848.pdf spent >60 s in ONE re.match here.
    rb"(?:[\x00\t\n\x0c\r ]++|%[^\r\n]*+)*+"
    rb"(?:/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"  # 1: name
    rb"|([+\-.0-9][0-9.+\-Ee]*)"  # 2: number
    rb"|(<<)"  # 3
    rb"|(>>)"  # 4
    rb"|([\[\]{}])"  # 5
    rb"|([^\x00\t\n\x0c\r ()<>\[\]{}/%]+)"  # 6: keyword
    rb"|([()<>]|\Z))"  # 7: the slow path's
)

# what follows the first number of a "num gen R" reference: the gen
# number's token and the keyword R, each as _LEX_RE reads it
_REF_TAIL_RE = re.compile(
    rb"(?:[\x00\t\n\x0c\r ]++|%[^\r\n]*+)*+([+\-.0-9][0-9.+\-Ee]*+)"
    rb"(?:[\x00\t\n\x0c\r ]++|%[^\r\n]*+)*+R(?![^\x00\t\n\x0c\r ()<>\[\]{}/%])"
)


# an array of plain numbers (font /Widths, /MediaBox, /W ranges, ...) from
# after its '[' through its ']', each number ending at whitespace or the
# ']'; refs, names, strings, nesting, comments and exponents do not match
# and take the general path, which gives these arrays the same values
_FLAT_NUMS_RE = re.compile(
    rb"[\t\n\x0c\r ]*+"
    rb"((?:[+\-]?+(?:\d++\.?+\d*+|\.\d++)(?:[\t\n\x0c\r ]++|(?=\])))*+)\]"
)


def _num_value(t: bytes):
    """A number token's value: a float if it has a '.', 'e' or 'E', else
    an int; 0 if float() or int() rejects it."""
    try:
        if b"." in t or b"e" in t or b"E" in t:
            return float(t)
        return int(t)
    except ValueError:
        return 0


_OBJ_NUMS = _Memo(_num_value, 8192)


def _token(m):
    """The token of a _LEX_RE match of groups 1-6."""
    k = m.lastindex
    if k == 2:
        return _OBJ_NUMS[m[2]]
    if k == 1:
        return _NAMES[m[1]]
    if k == 6:
        return _intern_kw(m[6].decode("latin-1"))
    if k == 3:
        return "<<"
    if k == 4:
        return ">>"
    return m[5].decode("latin-1")  # [ ] { }


def _flat_numbers(m) -> list:
    """The values of a _FLAT_NUMS_RE match (their rule is the content
    scanner's)."""
    return list(_number_run(m[1]))


class Lexer:
    """Tokenizer for PDF object syntax."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self):
        d = self.data
        n = len(d)
        while self.pos < n:
            c = d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # '%' comment
                while self.pos < n and d[self.pos] not in (10, 13):
                    self.pos += 1
            else:
                return

    def next_token(self):
        m = _LEX_RE.match(self.data, self.pos)
        if m.lastindex == 7:
            return self._next_token_slow()
        self.pos = m.end()
        return _token(m)

    def _next_token_slow(self):
        """What _LEX_RE leaves: EOF, strings, hex strings, a bare '>' and
        a keyword opening with ')'."""
        self._skip_ws()
        d = self.data
        n = len(d)
        if self.pos >= n:
            return None
        c = d[self.pos]
        start = self.pos
        if c == 0x28:  # ( string
            self.pos += 1
            depth = 1
            out = bytearray()
            while self.pos < n and depth:
                ch = d[self.pos]
                if ch == 0x5C:  # backslash
                    self.pos += 1
                    if self.pos >= n:
                        break
                    e = d[self.pos]
                    if e in b"nrtbf":
                        out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                        self.pos += 1
                    elif e in b"()\\":
                        out.append(e)
                        self.pos += 1
                    elif 0x30 <= e <= 0x37:
                        oct_digits = bytearray()
                        while (
                            self.pos < n
                            and 0x30 <= d[self.pos] <= 0x37
                            and len(oct_digits) < 3
                        ):
                            oct_digits.append(d[self.pos])
                            self.pos += 1
                        out.append(int(oct_digits.decode(), 8) & 0xFF)
                    elif e in (10, 13):  # line continuation
                        self.pos += 1
                        if e == 13 and self.pos < n and d[self.pos] == 10:
                            self.pos += 1
                    else:
                        out.append(e)
                        self.pos += 1
                elif ch == 0x28:
                    depth += 1
                    out.append(ch)
                    self.pos += 1
                elif ch == 0x29:
                    depth -= 1
                    if depth:
                        out.append(ch)
                    self.pos += 1
                else:
                    out.append(ch)
                    self.pos += 1
            return bytes(out)
        if c == 0x3C:  # <hex>, unterminated: to the end of the data
            self.pos += 1
            end = d.find(b">", self.pos)
            if end < 0:
                end = n
            hexs = re.sub(rb"[^0-9A-Fa-f]", b"", d[self.pos : end])
            if len(hexs) % 2:
                hexs += b"0"
            self.pos = end + 1
            return bytes.fromhex(hexs.decode())
        self.pos += 1
        if c == 0x3E:
            return ">"
        # keyword
        while self.pos < n and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            self.pos += 1
        kw = d[start : self.pos].decode("latin-1")
        return ("kw", kw)


def parse_object(lex: Lexer):
    """Parse one object; resolves R-references into Ref markers."""
    return _parse_from(lex, lex.next_token())


_KW_VALUES = {"true": True, "false": False, "null": None}
_ARRAY = object()  # the key slot of an array frame in _parse_container
_NO_KEY = object()  # the key slot of a dict frame between entries


def _parse_from(lex: Lexer, tok):
    """The object that token ``tok`` starts, the rest read from ``lex``:
    a dict or array (:func:`_parse_container`), else :func:`_scalar`."""
    if tok == "<<" or tok == "[":
        return _parse_container(lex, tok == "<<")
    v, lex.pos = _scalar(lex.data, tok, lex.pos)
    return v


def _scalar(data: bytes, tok, end: int):
    """The value that token ``tok`` (ending at ``end``) starts when it
    opens no container, and where that value ends: an int followed by
    ``gen R`` (gen an int) is a Ref, true/false/null are themselves, any
    other token is its own value."""
    if type(tok) is int:
        m = _REF_TAIL_RE.match(data, end)
        if m is not None:
            gen = _num_value(m[1])
            if type(gen) is int:
                return Ref(tok, gen), m.end()
    elif type(tok) is tuple:
        return _KW_VALUES.get(tok[1], tok), end
    return tok, end


def _parse_container(lex: Lexer, is_dict: bool):
    """The dict (after its ``<<``) or array (after its ``[``) at
    ``lex.pos``, nested containers included, in one scan of the Lexer's
    _LEX_RE with an explicit stack of the open containers.

    A dict reads a key token, ending at ``>>`` or the end of the data,
    then a value object; only a name key is stored. An array reads value
    objects up to ``]`` or the end. In a value, ``<<`` and ``[`` open a
    container and any other token is read by :func:`_scalar` (``>>`` and
    ``]`` are their own values). An array of plain numbers is read by one
    _FLAT_NUMS_RE match. The scan restarts after what it did not read
    itself: a token of the Lexer's slow path, a flat array, the tail of a
    reference."""
    data = lex.data
    scan = _LEX_RE.finditer
    pos = lex.pos
    if is_dict:
        cur, key = {}, _NO_KEY
    else:
        m = _FLAT_NUMS_RE.match(data, pos)
        if m is not None:
            lex.pos = m.end()
            return _flat_numbers(m)
        cur, key = [], _ARRAY
    frames = []  # the enclosing containers, as (container, key slot)
    v = None  # a container just closed
    while True:
        for m in scan(data, pos):
            if m.lastindex == 7:
                # the slow path's token (past the end of the data, a match
                # starts at the end); the scan restarts after it
                lex.pos = max(m.start(), pos)
                t = lex._next_token_slow()
                end = jump = lex.pos
            else:
                t = _token(m)
                end = m.end()
                jump = None  # where the scan restarts, if not at end
            if key is _NO_KEY:
                if t != ">>" and t is not None:
                    key = t
                else:
                    v = cur
            elif key is not _ARRAY or (t != "]" and t is not None):
                if t == "<<":
                    frames.append((cur, key))
                    cur, key = {}, _NO_KEY
                elif t == "[" and (fm := _FLAT_NUMS_RE.match(data, end)) is None:
                    frames.append((cur, key))
                    cur, key = [], _ARRAY
                else:
                    if t == "[":
                        t = _flat_numbers(fm)
                        jump = fm.end()
                    else:
                        t, after = _scalar(data, t, end)
                        if after != end:
                            jump = after
                    if key is _ARRAY:
                        cur.append(t)
                    else:
                        if isinstance(key, Name):
                            cur[str(key)] = t
                        key = _NO_KEY
            else:
                v = cur
            if v is not None:
                # the container just closed is a value of the one around it
                if not frames:
                    lex.pos = end if jump is None else jump
                    return v
                cur, key = frames.pop()
                if key is _ARRAY:
                    cur.append(v)
                else:
                    if isinstance(key, Name):
                        cur[str(key)] = v
                    key = _NO_KEY
                v = None
            if jump is not None:
                pos = jump
                break


# WinAnsiEncoding differences from latin-1 in 0x80-0x9f (ISO 32000 annex D)
_WINANSI = {
    0x80: "€", 0x82: "‚", 0x83: "ƒ", 0x84: "„",
    0x85: "…", 0x86: "†", 0x87: "‡", 0x88: "ˆ",
    0x89: "‰", 0x8A: "Š", 0x8B: "‹", 0x8C: "Œ",
    0x8E: "Ž", 0x91: "‘", 0x92: "’", 0x93: "“",
    0x94: "”", 0x95: "•", 0x96: "–", 0x97: "—",
    0x98: "˜", 0x99: "™", 0x9A: "š", 0x9B: "›",
    0x9C: "œ", 0x9E: "ž", 0x9F: "Ÿ",
}


# Adobe Glyph List subset for /Differences arrays (public AGL): the
# standard Latin set + the names real PDFs actually put in Differences
# (ligatures, typographic punctuation, common accents). uniXXXX / uXXXX+
# names resolve by pattern.
_GLYPH_NAMES = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "fi": "ﬁ", "fl": "ﬂ", "ff": "ﬀ", "ffi": "ﬃ",
    "ffl": "ﬄ",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "endash": "–", "emdash": "—", "bullet": "•",
    "dagger": "†", "daggerdbl": "‡", "ellipsis": "…",
    "trademark": "™", "copyright": "©", "registered": "®",
    "degree": "°", "Euro": "€", "euro": "€",
    "cent": "¢", "sterling": "£", "yen": "¥",
    "section": "§", "paragraph": "¶", "periodcentered": "·",
    "middot": "·", "guillemotleft": "«",
    "guillemotright": "»", "guilsinglleft": "‹",
    "guilsinglright": "›", "exclamdown": "¡",
    "questiondown": "¿", "germandbls": "ß",
    "ae": "æ", "AE": "Æ", "oe": "œ", "OE": "Œ",
    "oslash": "ø", "Oslash": "Ø", "aring": "å",
    "Aring": "Å", "nbspace": " ", "minus": "−",
    "divide": "÷", "multiply": "×", "plusminus": "±",
    "fraction": "⁄", "florin": "ƒ", "perthousand": "‰",
    "circumflex": "ˆ", "tilde": "˜", "caron": "ˇ",
    "breve": "˘", "dotaccent": "˙", "ring": "˚",
    "cedilla": "¸", "hungarumlaut": "˝", "ogonek": "˛",
    "macron": "¯", "dieresis": "¨", "acute": "´",
    "brokenbar": "¦", "currency": "¤", "dotlessi": "ı",
    "Lslash": "Ł", "lslash": "ł", "Zcaron": "Ž",
    "zcaron": "ž", "Scaron": "Š", "scaron": "š",
    "Ydieresis": "Ÿ",
}
for _base, _ch in (("a", "a"), ("e", "e"), ("i", "i"), ("o", "o"),
                   ("u", "u"), ("A", "A"), ("E", "E"), ("I", "I"),
                   ("O", "O"), ("U", "U"), ("n", "n"), ("N", "N"),
                   ("c", "c"), ("C", "C"), ("y", "y")):
    import unicodedata as _ud

    for _acc, _mark in (("acute", "́"), ("grave", "̀"),
                        ("circumflex", "̂"), ("dieresis", "̈"),
                        ("tilde", "̃"), ("cedilla", "̧")):
        try:
            _comp = _ud.normalize("NFC", _ch + _mark)
            if len(_comp) == 1:
                _GLYPH_NAMES.setdefault(_base + _acc, _comp)
        except Exception:  # noqa: BLE001
            pass
for _c in range(ord("A"), ord("Z") + 1):
    _GLYPH_NAMES.setdefault(chr(_c), chr(_c))
for _c in range(ord("a"), ord("z") + 1):
    _GLYPH_NAMES.setdefault(chr(_c), chr(_c))


def glyphname_to_unicode(name: str) -> Optional[str]:
    """AGL-style resolution: direct names, uniXXXX, uXXXX[XX]."""
    hit = _GLYPH_NAMES.get(name)
    if hit is not None:
        return hit
    if name.startswith("uni") and len(name) >= 7:
        try:
            return chr(int(name[3:7], 16))
        except ValueError:
            return None
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            return None
    return None


# CP936-bytes fontname normalization (reference page.py:76-94; map via
# the public mupdf pdf-font.c table)
CP936_FONTNAMES = {
    b"\xcb\xce\xcc\xe5": "SimSun,Regular",
    b"\xba\xda\xcc\xe5": "SimHei,Regular",
    b"\xbf\xac\xcc\xe5_GB2312": "SimKai,Regular",
    b"\xb7\xc2\xcb\xce_GB2312": "SimFang,Regular",
    b"\xc1\xa5\xca\xe9": "SimLi,Regular",
}


def normalize_fontname(name: str) -> str:
    """Byte-encoded (CP936) fontnames -> canonical; subset prefix kept
    (``page.py:85-94`` semantics, incl. the str(bytes)[2:-1] fallback)."""
    raw = name.encode("latin-1", "replace")
    if raw.isascii():
        return name
    if b"+" in raw:
        at = raw.index(b"+") + 1
        prefix, suffix = raw[:at], raw[at:]
    else:
        prefix, suffix = b"", raw
    suffix_new = CP936_FONTNAMES.get(suffix, str(suffix)[2:-1])
    return str(prefix)[2:-1] + suffix_new


def _font_num(v, default):
    """A font's width, metric or matrix value ``v`` as a float, or
    ``default``, as for a missing value, when ``v`` is not a number or no
    float holds it (an integer of 309 digits or more)."""
    if isinstance(v, (int, float)):
        try:
            return float(v)
        except OverflowError:
            pass
    return default


def _font_code(v) -> Optional[int]:
    """A /W start or end code ``v`` as an int (a real truncated, as
    ``int`` does), or None when ``v`` is not a finite number."""
    if isinstance(v, int) or (isinstance(v, float) and math.isfinite(v)):
        return int(v)
    return None


# |code| bound of a /W range: inside int64, far past any cid
_CODE_MAX = 1 << 62


class Font:
    """Simple (1-byte) font: widths, encoding, ToUnicode."""

    def __init__(self, doc: "PDFDocument", spec: dict, name: str):
        self.name = name
        self.basefont = normalize_fontname(str(spec.get("BaseFont", name)))
        self.first_char = doc.resolve(spec.get("FirstChar", 0)) or 0
        widths = doc.resolve(spec.get("Widths"))
        self.widths: Dict[int, float] = {}
        if widths:
            for i, w in enumerate(doc.resolve(widths)):
                self.widths[self.first_char + i] = _font_num(doc.resolve(w), 0.0)
        desc = doc.resolve(spec.get("FontDescriptor")) or {}
        # raw /FontFile (Type1), /FontFile2 (TrueType), /FontFile3
        # (CFF/Type1C) refs kept for lazy embedded-glyph loading
        # (kernel/type1.py, kernel/truetype.py, kernel/cff.py; display
        # stamps real glyph outlines)
        self._fontfile_ref = desc.get("FontFile")
        self._fontfile2_ref = desc.get("FontFile2")
        self._fontfile3_ref = desc.get("FontFile3")
        self._ttf = None  # parsed lazily, False = tried and failed
        self._cff = None
        self._t1f = None
        # explicit numeric values stand AS WRITTEN, including 0 — pdfminer
        # (pdffont.py) reads descriptor.get("Descent") verbatim, and
        # LibreOffice emits Ascent/Descent 0 (round-7 element_bbox port:
        # chars sat 0.212 em low on pdf_structure.pdf). The writer-contract
        # default applies only when the key is ABSENT.
        self.descent = _font_num(doc.resolve(desc.get("Descent")),
                                 float(FONT_DESCENT))
        # PDF RM 9.8.1: /Descent must be negative. PScript5.dll emits a
        # positive value; pdfminer (pdffont.py PDFFont.__init__) forces it
        # negative, and the reference's laparams line grouping on
        # issue-192 depends on that correction — char y-extents of mixed
        # font sizes shift otherwise.
        if self.descent > 0:
            self.descent = -self.descent
        self.ascent = _font_num(doc.resolve(desc.get("Ascent")),
                                float(FONT_ASCENT))
        self.default_width = _font_num(
            doc.resolve(desc.get("MissingWidth")), 556.0) or 556.0
        if not self.widths:
            # fallback: deterministic base table (ASCII)
            self.widths = {32 + i: float(w) for i, w in enumerate(WIDTHS)}
        self.to_unicode = self._parse_tounicode(doc, spec.get("ToUnicode"))
        # /Encoding: base name (WinAnsi default-compatible fallback kept)
        # + /Differences glyph-name remaps (round-5 reference-port
        # finding: MacRomanEncoding fonts decoded 0xDE as Þ, not ﬁ)
        self.base_encoding = ""
        self.diff_map: Dict[int, str] = {}
        enc = doc.resolve(spec.get("Encoding"))
        if isinstance(enc, dict):
            self.base_encoding = str(doc.resolve(enc.get("BaseEncoding", "")))
            diffs = doc.resolve(enc.get("Differences"))
            if isinstance(diffs, list):
                code = 0
                for item in diffs:
                    item = doc.resolve(item)
                    if isinstance(item, (int, float)):
                        code = int(item)
                    elif isinstance(item, Name):
                        u = glyphname_to_unicode(str(item))
                        if u is not None:
                            self.diff_map[code] = u
                        code += 1
        elif enc is not None:
            self.base_encoding = str(enc)
        subtype = str(doc.resolve(spec.get("Subtype", "")))
        # Type3: widths live in glyph space, scaled by FontMatrix (pdfminer
        # PDFType3Font: hscale/vscale = apply_matrix_norm(matrix, (1,1)))
        self.hscale = 0.001
        if subtype == "Type3":
            fm = doc.resolve(spec.get("FontMatrix")) or [0.001, 0, 0, 0.001, 0, 0]
            fm = [_font_num(doc.resolve(x), 0.0) for x in fm]
            self.hscale = fm[0] + fm[2]
            vscale = fm[1] + fm[3]
            bbox = [
                _font_num(doc.resolve(x), 0.0)
                for x in (doc.resolve(spec.get("FontBBox")) or (0, 0, 0, 0))
            ]
            if bbox != [0.0, 0.0, 0.0, 0.0]:
                self.descent = bbox[1] * vscale * 1000.0
                self.ascent = bbox[3] * vscale * 1000.0
        self.multibyte = subtype == "Type0"
        # /W: cid -> (entry number, width) from the lists, and the
        # (first, last, entry number, width) columns of the ranges, kept
        # as intervals; a later entry overrides an earlier one
        self.cid_widths: Dict[int, Tuple[int, float]] = {}
        self.cid_ranges: Optional[Tuple[np.ndarray, ...]] = None
        self.cid_default = 1000.0
        if self.multibyte:
            self._load_cid(doc, spec)
        # cid -> char_width / to_unichr, each computed once per font
        self.glyph_width = _Memo(self.char_width)
        self.glyph_text = _Memo(self.to_unichr)

    def _load_cid(self, doc, spec):
        dfonts = doc.resolve(spec.get("DescendantFonts")) or []
        if dfonts:
            df = doc.resolve(dfonts[0]) or {}
            # CIDFontType2: /CIDToGIDMap is Identity (default) or a
            # 2-byte-per-CID stream; kept for CID-keyed glyph rendering
            self._cidtogid_ref = df.get("CIDToGIDMap")
            self.cid_default = _font_num(doc.resolve(df.get("DW")), 1000.0) or 1000.0
            warr = doc.resolve(df.get("W")) or []
            i = 0
            warr = [doc.resolve(x) for x in warr]
            ranges = []
            # an entry whose code or width is not a number is dropped, so
            # its cids keep /DW
            while i < len(warr):
                if i + 1 < len(warr) and isinstance(warr[i + 1], list):
                    start = _font_code(warr[i])
                    for j, w in enumerate(warr[i + 1]):
                        w = _font_num(w, None)
                        if start is not None and w is not None:
                            self.cid_widths[start + j] = (i, w)
                    i += 2
                elif i + 2 < len(warr):
                    a, b = _font_code(warr[i]), _font_code(warr[i + 1])
                    w = _font_num(warr[i + 2], None)
                    if a is not None and b is not None and w is not None and a <= b:
                        # clamped into int64; every cid lies far inside
                        ranges.append((max(a, -_CODE_MAX), min(b, _CODE_MAX), i, w))
                    i += 3
                else:
                    break
            if ranges:
                self.cid_ranges = tuple(np.array(c) for c in zip(*ranges))
            desc = doc.resolve(df.get("FontDescriptor")) or {}
            self._fontfile_ref = desc.get("FontFile")
            self._fontfile2_ref = desc.get("FontFile2")
            self._fontfile3_ref = desc.get("FontFile3")
            # an explicit 0 stands (see the simple-font note above)
            self.descent = _font_num(doc.resolve(desc.get("Descent")),
                                     self.descent)
            if self.descent > 0:  # same RM 9.8.1 correction as simple fonts
                self.descent = -self.descent

    def truetype(self, doc):
        """Parsed embedded TrueType (kernel/truetype.py) or None; lazy,
        cached, never raises (renders fall back to 5x7 bitmaps)."""
        if self._ttf is None:
            self._ttf = False
            ref = getattr(self, "_fontfile2_ref", None)
            if ref is not None:
                try:
                    st = doc.resolve(ref)
                    if st is not None and hasattr(st, "get_data"):
                        from .truetype import TrueTypeFont

                        self._ttf = TrueTypeFont(bytes(st.get_data(doc)))
                except Exception:  # noqa: BLE001 — broken/exotic font file
                    self._ttf = False
        return self._ttf or None

    def glyph_font(self, doc):
        """Embedded outline font for rendering: TrueType (/FontFile2)
        first, else CFF/Type1C (/FontFile3, kernel/cff.py), else Type 1
        (/FontFile, kernel/type1.py). All three expose the same
        duck-typed surface (units_per_em / descender / glyph_id /
        glyph_outline) consumed by truetype.rasterize_glyph. Lazy,
        cached, never raises."""
        ttf = self.truetype(doc)
        if ttf is not None:
            return ttf
        if self._cff is None:
            self._cff = False
            ref = getattr(self, "_fontfile3_ref", None)
            if ref is not None:
                try:
                    st = doc.resolve(ref)
                    if st is not None and hasattr(st, "get_data"):
                        from .cff import CFFFont

                        self._cff = CFFFont(bytes(st.get_data(doc)))
                except Exception:  # noqa: BLE001 — broken/exotic font
                    self._cff = False
        if self._cff:
            return self._cff
        if self._t1f is None:
            self._t1f = False
            ref = getattr(self, "_fontfile_ref", None)
            if ref is not None:
                try:
                    st = doc.resolve(ref)
                    if st is not None and hasattr(st, "get_data"):
                        from .type1 import Type1Font

                        l1 = doc.resolve(st.attrs.get("Length1"))
                        l2 = doc.resolve(st.attrs.get("Length2"))
                        self._t1f = Type1Font(
                            bytes(st.get_data(doc)),
                            int(l1) if l1 else None,
                            int(l2) if l2 else None)
                except Exception:  # noqa: BLE001 — broken/exotic font
                    self._t1f = False
        return self._t1f or None

    def cid_to_gid(self, doc, glyphfont, cid: int) -> Optional[int]:
        """Glyph index for a raw CID of this (composite) font:
        CID-keyed CFF -> inverted charset; CIDFontType2 -> /CIDToGIDMap
        stream or Identity. None when unmapped."""
        if glyphfont is not None and getattr(glyphfont, "is_cid", False):
            lookup = getattr(glyphfont, "gid_for_cid", None)
            if lookup is not None:
                return lookup(cid)
        ref = getattr(self, "_cidtogid_ref", None)
        if ref is not None:
            m = doc.resolve(ref)
            if hasattr(m, "get_data"):  # 2-byte big-endian per CID
                cache = getattr(self, "_cidtogid_bytes", None)
                if cache is None:
                    try:
                        cache = bytes(m.get_data(doc))
                    except Exception:  # noqa: BLE001
                        cache = b""
                    self._cidtogid_bytes = cache
                if 2 * cid + 1 < len(cache):
                    return (cache[2 * cid] << 8) | cache[2 * cid + 1]
                return None
        nglyphs = getattr(glyphfont, "num_glyphs",
                          getattr(glyphfont, "nglyphs", None))
        if nglyphs is not None and not 0 <= cid < nglyphs:
            return None
        return cid  # Identity

    @staticmethod
    def _parse_tounicode(doc, ref) -> Dict[int, str]:
        stream = doc.resolve(ref)
        out: Dict[int, str] = {}
        if not isinstance(stream, StreamObj):
            return out
        data = stream.get_data(doc)
        try:
            txt = data.decode("latin-1")
        except Exception:
            return out
        for m in re.finditer(r"beginbfchar(.*?)endbfchar", txt, re.S):
            for cm in re.finditer(r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", m.group(1)):
                src = int(cm.group(1), 16)
                dst_hex = cm.group(2)
                chars = "".join(
                    chr(int(dst_hex[i : i + 4], 16)) for i in range(0, len(dst_hex), 4)
                )
                out[src] = chars
        for m in re.finditer(r"beginbfrange(.*?)endbfrange", txt, re.S):
            body = m.group(1)
            for cm in re.finditer(
                r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", body
            ):
                lo, hi, dst = (int(cm.group(i), 16) for i in (1, 2, 3))
                out.update(zip(range(lo, hi + 1),
                               map(chr, range(dst, dst + hi + 1 - lo))))
            for cm in re.finditer(
                r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*\[(.*?)\]", body, re.S
            ):
                lo = int(cm.group(1), 16)
                dsts = re.findall(r"<([0-9A-Fa-f]+)>", cm.group(3))
                for j, dh in enumerate(dsts):
                    chars = "".join(
                        chr(int(dh[i : i + 4], 16)) for i in range(0, len(dh), 4)
                    )
                    out[lo + j] = chars
        return out

    def decode(self, raw: bytes) -> List[int]:
        if self.multibyte:
            return [
                (raw[i] << 8) | raw[i + 1] if i + 1 < len(raw) else raw[i]
                for i in range(0, len(raw), 2)
            ]
        return list(raw)

    def char_width(self, cid: int) -> float:
        if self.multibyte:
            seq, w = self.cid_widths.get(cid, (-1, self.cid_default))
            if self.cid_ranges is not None:
                first, last, rseq, rw = self.cid_ranges
                hit = np.flatnonzero((first <= cid) & (cid <= last) & (rseq > seq))
                if len(hit):
                    w = float(rw[hit[-1]])
            return w * 0.001
        return self.widths.get(cid, self.default_width) * self.hscale

    def to_unichr(self, cid: int) -> str:
        if cid in self.to_unicode:
            return self.to_unicode[cid]
        if self.multibyte:
            return "�"
        if cid in self.diff_map:
            return self.diff_map[cid]
        if self.base_encoding.startswith("MacRoman"):
            try:
                return bytes([cid]).decode("mac_roman")
            except Exception:  # noqa: BLE001
                return "�"
        if cid in _WINANSI:
            return _WINANSI[cid]
        try:
            return bytes([cid]).decode("latin-1")
        except Exception:
            return "�"

    def get_descent(self) -> float:
        return self.descent * 0.001


class StreamObj:
    __slots__ = ("attrs", "raw")

    def __init__(self, attrs: dict, raw: bytes):
        self.attrs = attrs
        self.raw = raw

    def get_data(self, doc: "PDFDocument") -> bytes:
        data = self.raw
        filt = doc.resolve(self.attrs.get("Filter"))
        filters = [filt] if isinstance(filt, (Name, str)) else (filt or [])
        parms = doc.resolve(self.attrs.get("DecodeParms"))
        parms_list = [parms] if isinstance(parms, dict) else (parms or [])
        for i, f in enumerate(filters):
            fname = str(doc.resolve(f))
            if fname in ("FlateDecode", "Fl"):
                try:
                    data = zlib.decompress(data)
                except zlib.error:
                    data = _tolerant_inflate(data)
                p = doc.resolve(parms_list[i]) if i < len(parms_list) else None
                if isinstance(p, dict) and doc.resolve(p.get("Predictor", 1)) and int(
                    doc.resolve(p.get("Predictor", 1))
                ) >= 10:
                    data = _png_predictor(
                        data,
                        int(doc.resolve(p.get("Columns", 1))),
                        int(doc.resolve(p.get("Colors", 1))),
                        int(doc.resolve(p.get("BitsPerComponent", 8))),
                    )
            elif fname in ("LZWDecode", "LZW"):
                data = _lzw_decode(data)
                p = doc.resolve(parms_list[i]) if i < len(parms_list) else None
                if isinstance(p, dict) and int(doc.resolve(p.get("Predictor", 1)) or 1) >= 10:
                    data = _png_predictor(
                        data,
                        int(doc.resolve(p.get("Columns", 1))),
                        int(doc.resolve(p.get("Colors", 1))),
                        int(doc.resolve(p.get("BitsPerComponent", 8))),
                    )
            elif fname in ("ASCII85Decode", "A85"):
                import base64

                body = data.split(b"~>")[0]
                body = re.sub(rb"\s", b"", body)
                if body.startswith(b"<~"):
                    body = body[2:]
                data = base64.a85decode(body)
            elif fname in ("RunLengthDecode", "RL"):
                data = _rle_decode(data)
            elif fname in ("ASCIIHexDecode", "AHx"):
                hx = re.sub(rb"[^0-9A-Fa-f]", b"", data.split(b">")[0])
                if len(hx) % 2:
                    hx += b"0"
                data = bytes.fromhex(hx.decode())
            elif fname in ("CCITTFaxDecode", "CCF"):
                # Group 3/4 fax rasters (ISO 32000 §7.4.6; ITU T.4/T.6) —
                # kernel/ccitt.py; K > 0 (mixed G3-2D) raises and the
                # caller's unsupported-classification handles it
                from .ccitt import ccittfax_decode

                p = doc.resolve(parms_list[i]) if i < len(parms_list) else None
                p = p if isinstance(p, dict) else {}
                # Rows often omitted by real encoders (e.g. Acrobat G4
                # masks): the image dict's Height governs then
                n_rows = int(doc.resolve(p.get("Rows", 0)) or 0) or int(
                    doc.resolve(self.attrs.get("Height", 0)) or 0
                )
                data = ccittfax_decode(
                    data,
                    columns=int(doc.resolve(p.get("Columns", 1728)) or 1728),
                    rows=n_rows,
                    k=int(doc.resolve(p.get("K", 0)) or 0),
                    black_is_1=bool(doc.resolve(p.get("BlackIs1", False))),
                    encoded_byte_align=bool(
                        doc.resolve(p.get("EncodedByteAlign", False))
                    ),
                )
            elif fname == "JBIG2Decode":
                # embedded JBIG2 bi-level raster (ISO 32000 §7.4.7;
                # ITU T.88) — kernel/jbig2.py decodes arithmetic
                # template-0 generic regions; other region types raise
                # JBIG2Error and the caller classifies 'unsupported'
                from .jbig2 import decode_embedded

                p = doc.resolve(parms_list[i]) if i < len(parms_list) else None
                p = p if isinstance(p, dict) else {}
                g = doc.resolve(p.get("JBIG2Globals"))
                gdata = (bytes(g.get_data(doc))
                         if hasattr(g, "get_data") else b"")
                rows, w, _h = decode_embedded(bytes(data), gdata)
                # pack to 1-bit rows, PDF polarity (JBIG2 1 = black ->
                # DeviceGray sample 0), MSB-first byte-aligned rows —
                # same layout ccittfax_decode emits
                out = bytearray()
                for r in rows:
                    acc = 0
                    nb = 0
                    for px in r:
                        acc = (acc << 1) | (1 - px)
                        nb += 1
                        if nb == 8:
                            out.append(acc)
                            acc = nb = 0
                    if nb:
                        out.append(acc << (8 - nb))
                data = bytes(out)
            # unknown filters (DCT/JPX images): pass through raw
        return data


def _tolerant_inflate(data: bytes) -> bytes:
    """Best-effort inflate for streams with broken headers/trailers
    (reference analogue: the ghostscript repair path)."""
    for skip in (0, 1, 2):
        try:
            d = zlib.decompressobj()
            out = d.decompress(data[skip:])
            return out
        except zlib.error:
            continue
    # raw deflate (no zlib header)
    try:
        return zlib.decompressobj(-15).decompress(data)
    except zlib.error:
        return b""


def _lzw_decode(data: bytes) -> bytes:
    """PDF LZWDecode (ISO 32000 §7.4.4): 9-12 bit variable codes,
    256=clear, 257=EOD, early-change table growth."""
    out = bytearray()
    table: List[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    bits = 9
    acc = 0
    nbits = 0
    prev: Optional[bytes] = None
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= bits:
            code = (acc >> (nbits - bits)) & ((1 << bits) - 1)
            nbits -= bits
            if code == 256:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                bits = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            # early change: bump width one code before the table fills
            if len(table) + 1 >= (1 << bits) and bits < 12:
                bits += 1
    return bytes(out)


def _rle_decode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        length = data[i]
        i += 1
        if length == 128:
            break
        if length < 128:
            out += data[i : i + length + 1]
            i += length + 1
        else:
            if i < n:
                out += bytes([data[i]]) * (257 - length)
                i += 1
    return bytes(out)


def _png_predictor(data: bytes, columns: int, colors: int, bpc: int) -> bytes:
    bpp = max(1, (colors * bpc) // 8)
    row_len = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(row_len)
    i = 0
    n = len(data)
    while i + 1 <= n:
        ft = data[i]
        i += 1
        row = bytearray(data[i : i + row_len])
        i += row_len
        if ft == 0:
            pass
        elif ft == 1:
            for j in range(bpp, len(row)):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ft == 2:
            for j in range(len(row)):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif ft == 3:
            for j in range(len(row)):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + ((left + prev[j]) >> 1)) & 0xFF
        elif ft == 4:
            for j in range(len(row)):
                a = row[j - bpp] if j >= bpp else 0
                b = prev[j]
                c = prev[j - bpp] if j >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[j] = (row[j] + pr) & 0xFF
        out += row
        prev = row
        if i >= n:
            break
    return bytes(out)


# standard security handler (ISO 32000 §7.6.3): RC4 variants
_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
        0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def _rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = b ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _std_key(password: bytes, o_entry: bytes, p: int, id0: bytes,
             r: int, key_len: int, encrypt_metadata: bool = True) -> bytes:
    """Algorithm 2: encryption key from the (padded) user password."""
    import hashlib as _hl

    padded = (password + _PAD)[:32]
    h = _hl.md5(padded)
    h.update(o_entry[:32])
    h.update((p & 0xFFFFFFFF).to_bytes(4, "little"))
    h.update(id0)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = _hl.md5(key[:key_len]).digest()
    return key[:key_len]


def _std_user_check(key: bytes, r: int, id0: bytes) -> bytes:
    """Algorithm 4/5: the U entry a correct user password produces (first
    16 bytes are significant for r >= 3)."""
    import hashlib as _hl

    if r == 2:
        return _rc4(key, _PAD)
    h = _hl.md5(_PAD + id0).digest()
    out = _rc4(key, h)
    for i in range(1, 20):
        out = _rc4(bytes(b ^ i for b in key), out)
    return out + b"\x00" * 16


def _owner_to_user_password(owner_pw: bytes, o_entry: bytes, r: int,
                            key_len: int) -> bytes:
    """Algorithm 7 (decrypt side): recover the user password bytes from O."""
    import hashlib as _hl

    key = _hl.md5((owner_pw + _PAD)[:32]).digest()
    if r >= 3:
        for _ in range(50):
            key = _hl.md5(key).digest()
    key = key[:key_len]
    data = o_entry[:32]
    if r == 2:
        return _rc4(key, data)
    for i in range(19, -1, -1):
        data = _rc4(bytes(b ^ i for b in key), data)
    return data


def _hash_2b(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B (R6 hardened hash)."""
    import hashlib as _hl

    from .aes import cbc_encrypt

    k = _hl.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = cbc_encrypt(k[:16], k1, iv=k[16:32], pad=False)
        mod = sum(e[:16]) % 3
        k = (_hl.sha256, _hl.sha384, _hl.sha512)[mod](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            break
    return k[:32]


def _aes256_file_key(password: bytes, r: int, u_entry: bytes, o_entry: bytes,
                     ue: bytes, oe: bytes) -> Optional[bytes]:
    """Algorithms 2.A / 8 / 9: validate password (user then owner) and
    recover the 32-byte file encryption key (pdfminer AESV3 behavior)."""
    import hashlib as _hl

    from .aes import cbc_decrypt

    password = password[:127]
    u_hash, u_vsalt, u_ksalt = u_entry[:32], u_entry[32:40], u_entry[40:48]
    o_hash, o_vsalt, o_ksalt = o_entry[:32], o_entry[32:40], o_entry[40:48]
    if r == 5:
        if _hl.sha256(password + u_vsalt).digest() == u_hash:
            ik = _hl.sha256(password + u_ksalt).digest()
            return cbc_decrypt(ik, ue, iv=b"\x00" * 16, unpad=False)
        if _hl.sha256(password + o_vsalt + u_entry[:48]).digest() == o_hash:
            ik = _hl.sha256(password + o_ksalt + u_entry[:48]).digest()
            return cbc_decrypt(ik, oe, iv=b"\x00" * 16, unpad=False)
        return None
    # r == 6
    if _hash_2b(password, u_vsalt) == u_hash:
        ik = _hash_2b(password, u_ksalt)
        return cbc_decrypt(ik, ue, iv=b"\x00" * 16, unpad=False)
    if _hash_2b(password, o_vsalt, u_entry[:48]) == o_hash:
        ik = _hash_2b(password, o_ksalt, u_entry[:48])
        return cbc_decrypt(ik, oe, iv=b"\x00" * 16, unpad=False)
    return None


class PDFDocument:
    """Random-access PDF object store: xref (classic + stream), ObjStm,
    RC4 standard-security decryption."""

    def __init__(self, data: bytes, password: str = ""):
        self.data = data
        self.xref: Dict[int, Tuple[str, int, int]] = {}  # num -> (kind, a, b)
        self.trailer: dict = {}
        self._cache: Dict[int, object] = {}
        self._objstm_cache: Dict[int, Dict[int, object]] = {}
        self._enc_key: Optional[bytes] = None
        self._load_xref()
        self._init_encryption(password.encode("latin-1", "replace"))

    def _init_encryption(self, password: bytes) -> None:
        """Standard security handler (pdfminer.pdfdocument security-handler
        parity): RC4 V1/V2/V4, AES-128 (AESV2, R4), AES-256 (AESV3, R5/R6).
        User password is tried first, then owner (pdfminer behavior)."""
        enc_ref = self.trailer.get("Encrypt")
        if enc_ref is None:
            return
        enc = self.resolve(enc_ref)
        if not isinstance(enc, dict) or str(self.resolve(enc.get("Filter"))) != "Standard":
            return
        v = int(self.resolve(enc.get("V", 0)) or 0)
        r = int(self.resolve(enc.get("R", 2)) or 2)
        o_entry = bytes(self.resolve(enc.get("O")) or b"")
        u_entry = bytes(self.resolve(enc.get("U")) or b"")
        self._enc_exempt = {enc_ref.num} if isinstance(enc_ref, Ref) else set()
        self._enc_algo = "rc4"
        if v == 5 or r in (5, 6):
            ue = bytes(self.resolve(enc.get("UE")) or b"")
            oe = bytes(self.resolve(enc.get("OE")) or b"")
            key = _aes256_file_key(password, r, u_entry, o_entry, ue, oe)
            if key is None:
                raise ValueError("incorrect password (AES-256)")
            self._enc_key = key
            self._enc_algo = "aes256"
            return
        if v not in (1, 2, 4):
            return  # unknown scheme: leave undecrypted
        if v == 4:
            cf = self.resolve(enc.get("CF")) or {}
            stdcf = self.resolve(cf.get("StdCF")) or {}
            cfm = str(self.resolve(stdcf.get("CFM")))
            if cfm == "AESV2":
                self._enc_algo = "aes128"
            elif cfm != "V2":
                return  # e.g. Identity / custom filter: leave undecrypted
        length = int(self.resolve(enc.get("Length", 40)) or 40) // 8
        p = int(self.resolve(enc.get("P", -1)) or -1)
        ids = self.resolve(self.trailer.get("ID")) or [b""]
        id0 = bytes(self.resolve(ids[0]) or b"")
        em = self.resolve(enc.get("EncryptMetadata", True))
        em = bool(em if em is not None else True)
        key = _std_key(password, o_entry, p, id0, r, length,
                       encrypt_metadata=em)
        if u_entry and _std_user_check(key, r, id0)[:16] != u_entry[:16]:
            # user password failed: try as owner password (Algorithm 7)
            user_pw = _owner_to_user_password(password, o_entry, r, length)
            key = _std_key(user_pw, o_entry, p, id0, r, length,
                           encrypt_metadata=em)
            if _std_user_check(key, r, id0)[:16] != u_entry[:16]:
                raise ValueError("incorrect password")
        self._enc_key = key

    def _obj_rc4_key(self, num: int, gen: int, aes: bool = False) -> bytes:
        import hashlib as _hl

        k = self._enc_key
        h = _hl.md5(
            k + (num & 0xFFFFFF).to_bytes(3, "little")
            + (gen & 0xFFFF).to_bytes(2, "little")
            + (b"sAlT" if aes else b"")  # ISO 32000 §7.6.2 AESV2 salt
        ).digest()
        return h[: min(len(k) + 5, 16)]

    def _decrypt_bytes(self, data: bytes, num: int, gen: int) -> bytes:
        algo = getattr(self, "_enc_algo", "rc4")
        if algo == "rc4":
            return _rc4(self._obj_rc4_key(num, gen), data)
        from .aes import cbc_decrypt

        if algo == "aes128":
            return cbc_decrypt(self._obj_rc4_key(num, gen, aes=True), data)
        # aes256: the file key encrypts every object directly (AESV3)
        return cbc_decrypt(self._enc_key, data)

    def _decrypt_obj(self, obj, num: int, gen: int, depth: int = 0):
        if depth > 32:
            return obj
        if isinstance(obj, StreamObj):
            return StreamObj(
                self._decrypt_obj(obj.attrs, num, gen, depth + 1),
                self._decrypt_bytes(obj.raw, num, gen),
            )
        if isinstance(obj, (bytes, bytearray)):
            return self._decrypt_bytes(bytes(obj), num, gen)
        if isinstance(obj, dict):
            return {
                k: self._decrypt_obj(v, num, gen, depth + 1)
                for k, v in obj.items()
            }
        if isinstance(obj, list):
            return [self._decrypt_obj(v, num, gen, depth + 1) for v in obj]
        return obj

    # -- xref loading --------------------------------------------------------

    def _load_xref(self):
        data = self.data
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", data[-2048:]):
            pass
        if m:
            start = int(m.group(1))
            seen = set()
            self._load_xref_at(start, seen)
        if not self.xref:
            self._scan_all_objects()

    def _load_xref_at(self, pos: int, seen: set):
        if pos in seen or pos <= 0 or pos >= len(self.data):
            return
        seen.add(pos)
        data = self.data
        lex = Lexer(data, pos)
        lex._skip_ws()
        if data[lex.pos : lex.pos + 4] == b"xref":
            trailer = self._load_classic_xref(lex.pos + 4)
        else:
            trailer = self._load_xref_stream(pos)
        if trailer:
            if not self.trailer:
                self.trailer = trailer
            prev = trailer.get("Prev")
            if prev is not None:
                self._load_xref_at(int(self.resolve(prev)), seen)
            xs = trailer.get("XRefStm")
            if xs is not None:
                self._load_xref_at(int(self.resolve(xs)), seen)

    def _load_classic_xref(self, pos: int) -> Optional[dict]:
        data = self.data
        lex = Lexer(data, pos)
        entry_re = re.compile(rb"(\d{10})\s+(\d{5})\s+([nf])")
        while True:
            lex._skip_ws()
            if data[lex.pos : lex.pos + 7] == b"trailer":
                lex.pos += 7
                t = parse_object(lex)
                return t if isinstance(t, dict) else None
            t1 = lex.next_token()
            t2 = lex.next_token()
            if not (isinstance(t1, int) and isinstance(t2, int)):
                return None
            start, count = t1, t2
            for i in range(count):
                m = entry_re.match(data, lex.pos) or entry_re.search(
                    data, lex.pos, lex.pos + 40
                )
                if not m:
                    return None
                num = start + i
                if m.group(3) == b"n" and num not in self.xref:
                    self.xref[num] = ("raw", int(m.group(1)), 0)
                lex.pos = m.end()

    def _load_xref_stream(self, pos: int) -> Optional[dict]:
        lex = Lexer(self.data, pos)
        t1 = lex.next_token()  # num
        lex.next_token()  # gen
        t3 = lex.next_token()  # obj
        if not (isinstance(t1, int) and t3 == ("kw", "obj")):
            return None
        obj = self._parse_indirect_body(lex)
        if not isinstance(obj, StreamObj):
            return None
        attrs = obj.attrs
        data = obj.get_data(self)
        w = [int(self.resolve(x)) for x in self.resolve(attrs.get("W", [1, 1, 1]))]
        size = int(self.resolve(attrs.get("Size", 0)))
        index = self.resolve(attrs.get("Index")) or [0, size]
        index = [int(self.resolve(x)) for x in index]
        rowlen = sum(w)
        rows = [data[i : i + rowlen] for i in range(0, len(data) - rowlen + 1, rowlen)]
        ri = 0

        def field(row, k):
            s = sum(w[:k])
            chunk = row[s : s + w[k]]
            if not chunk:
                return 1 if k == 0 else 0
            return int.from_bytes(chunk, "big")

        for ii in range(0, len(index), 2):
            start, count = index[ii], index[ii + 1]
            for num in range(start, start + count):
                if ri >= len(rows):
                    break
                row = rows[ri]
                ri += 1
                typ = field(row, 0) if w[0] else 1
                f2 = field(row, 1)
                f3 = field(row, 2)
                if num in self.xref:
                    continue
                if typ == 1:
                    self.xref[num] = ("raw", f2, f3)
                elif typ == 2:
                    self.xref[num] = ("instm", f2, f3)
        return attrs

    def _scan_all_objects(self):
        """Fallback: brute scan for 'N 0 obj' markers."""
        for m in re.finditer(rb"(\d+)\s+(\d+)\s+obj\b", self.data):
            num = int(m.group(1))
            self.xref.setdefault(num, ("raw", m.start(), 0))
        tm = re.search(rb"trailer", self.data)
        if tm:
            lex = Lexer(self.data, tm.end())
            t = parse_object(lex)
            if isinstance(t, dict):
                self.trailer = t
        else:
            # xref-stream file: find the /Root in any stream dict
            for m in re.finditer(rb"/Root\s+(\d+)\s+(\d+)\s+R", self.data):
                self.trailer = {"Root": Ref(int(m.group(1)), int(m.group(2)))}
                break

    # -- object access -------------------------------------------------------

    def _parse_indirect_body(self, lex: Lexer):
        obj = parse_object(lex)
        save = lex.pos
        t = lex.next_token()
        if t == ("kw", "stream") and isinstance(obj, dict):
            p = lex.pos
            if self.data[p : p + 2] == b"\r\n":
                p += 2
            elif self.data[p : p + 1] in (b"\n", b"\r"):
                p += 1
            length = self.resolve(obj.get("Length", 0))
            try:
                length = int(length)
            except (TypeError, ValueError):
                length = 0
            raw = self.data[p : p + length]
            endpos = self.data.find(b"endstream", p + length)
            if length == 0 or endpos == -1 or endpos > p + length + 4:
                # Length unreliable: search
                endpos = self.data.find(b"endstream", p)
                raw = self.data[p:endpos].rstrip(b"\r\n")
            return StreamObj(obj, raw)
        lex.pos = save
        return obj

    def get_object(self, num: int):
        if num in self._cache:
            return self._cache[num]
        ent = self.xref.get(num)
        if ent is None:
            return None
        kind, a, b = ent
        if kind == "raw":
            lex = Lexer(self.data, a)
            t1 = lex.next_token()
            t2 = lex.next_token()
            t3 = lex.next_token()
            if not (isinstance(t1, int) and t3 == ("kw", "obj")):
                return None
            obj = self._parse_indirect_body(lex)
            if self._enc_key is not None and num not in getattr(
                self, "_enc_exempt", ()
            ):
                gen = t2 if isinstance(t2, int) else 0
                # xref streams are never encrypted (ISO 32000 §7.5.8.2)
                if not (
                    isinstance(obj, StreamObj)
                    and str(obj.attrs.get("Type", "")) == "XRef"
                ):
                    obj = self._decrypt_obj(obj, num, gen)
        else:  # in object stream (container already decrypted)
            obj = self._get_from_objstm(a, b)
        self._cache[num] = obj
        return obj

    def _get_from_objstm(self, stm_num: int, idx: int):
        table = self._objstm_cache.get(stm_num)
        if table is None:
            stm = self.get_object(stm_num)
            table = {}
            if isinstance(stm, StreamObj):
                data = stm.get_data(self)
                n = int(self.resolve(stm.attrs.get("N", 0)))
                first = int(self.resolve(stm.attrs.get("First", 0)))
                lex = Lexer(data, 0)
                pairs = []
                for _ in range(n):
                    onum = lex.next_token()
                    ooff = lex.next_token()
                    if not isinstance(onum, int) or not isinstance(ooff, int):
                        break
                    pairs.append((onum, ooff))
                for i, (onum, ooff) in enumerate(pairs):
                    olex = Lexer(data, first + ooff)
                    table[i] = (onum, parse_object(olex))
            self._objstm_cache[stm_num] = table
        ent = table.get(idx)
        return ent[1] if ent else None

    def resolve(self, obj, depth: int = 0):
        while isinstance(obj, Ref) and depth < 32:
            obj = self.get_object(obj.num)
            depth += 1
        return obj

    # -- metadata -------------------------------------------------------------

    def _meta_value(self, v, depth: int = 0):
        """Recursive metadata value decode (pdf.py:47-63 resolve_and_decode:
        nested dicts/lists get the same text decoding — issue-316)."""
        v = self.resolve(v)
        if isinstance(v, (bytes, bytearray)):
            b = bytes(v)
            if b[:2] in (b"\xfe\xff", b"\xff\xfe"):
                try:
                    return b.decode("utf-16")
                except UnicodeDecodeError:
                    pass
            return b.decode("latin-1")
        if isinstance(v, (int, float, bool)) or v is None:
            return v
        if depth > 8:
            return str(v)
        if isinstance(v, list):
            return [self._meta_value(x, depth + 1) for x in v]
        if isinstance(v, dict):
            return {
                str(k): self._meta_value(x, depth + 1) for k, x in v.items()
            }
        return str(v)

    def metadata(self) -> dict:
        """Resolved+decoded Info dict (``pdf.py:47-63`` semantics):
        PDFDocEncoding/UTF-16 text decode, ints/floats kept native, nested
        dicts/lists decoded recursively."""
        info = self.resolve(self.trailer.get("Info"))
        if not isinstance(info, dict):
            return {}
        return {str(k): self._meta_value(v) for k, v in info.items()}

    # -- page tree -----------------------------------------------------------

    def pages(self) -> List[dict]:
        root = self.resolve(self.trailer.get("Root")) or {}
        pages_node = self.resolve(root.get("Pages"))
        out: List[dict] = []
        if pages_node is None:
            return out
        stack = [(pages_node, {})]
        inheritable = ("Resources", "MediaBox", "CropBox", "Rotate")
        while stack:
            node, inh = stack.pop(0)
            ref_num = node.num if isinstance(node, Ref) else None
            node = self.resolve(node)
            if not isinstance(node, dict):
                continue
            new_inh = dict(inh)
            for k in inheritable:
                if k in node:
                    new_inh[k] = node[k]
            t = str(self.resolve(node.get("Type", "")))
            if t == "Pages" or (t != "Page" and "Kids" in node):
                kids = self.resolve(node.get("Kids")) or []
                for i, kid in enumerate(kids):
                    stack.insert(i, (kid, new_inh))
            else:
                spec = dict(node)
                for k in inheritable:
                    spec.setdefault(k, new_inh.get(k))
                spec["_ref"] = ref_num  # page object number (structure /Pg)
                out.append(spec)
        return out


# --- content stream interpretation -----------------------------------------

# the content-stream scanner's token regex, walked once per stream with
# finditer (content_ops): each match is a token with its leading whitespace
# and comments (possessive, as in _LEX_RE), told apart by its group number
# alone. Numbers come first, so "12Tf" is 12 then Tf and "1.2.3" is 1.2
# then .3; a run of two or more numbers each followed by whitespace
# ("1 0 0 1 72 700 " before Tm) is one match, split once. Strings are one
# match each: plain, hex, or with escapes (decoded by _unescape). What is
# left (a string with nested parentheses, an unterminated one, "<<", a
# nested "[", the end of the data) matches group 10 and goes to the full
# Lexer / _parse_from, and the scan restarts where they stopped.
_CONTENT_NUM = rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)"
_CONTENT_TOKEN_RE = re.compile(
    rb"(?:[\s\x00]++|%[^\r\n]*+)*+"
    rb"(?:((?:" + _CONTENT_NUM + rb"\s++){2,}+)"  # 1: numbers, each before ws
    rb"|(" + _CONTENT_NUM + rb")"  # 2: a number
    rb"|([^\s\x00/()<>\[\]{}%]+)"  # 3: operator
    rb"|/([^\s\x00/()<>\[\]{}%]*)"  # 4: name
    rb"|\(([^()\\]*+)\)"  # 5: plain string
    rb"|(\[)"  # 6: array open
    rb"|([\]>}{)])"  # 7: array close, or a stray delimiter
    rb"|<(?!<)([^>]*+)>"  # 8: hex string
    rb"|\(((?:[^()\\]++|\\[\s\S])*+)\)"  # 9: string with escapes
    rb"|(<<|[(<]|\Z))"  # 10: hard token, or the end
)
_NON_HEX_RE = re.compile(rb"[^0-9A-Fa-f]")
_ESCAPE_RE = re.compile(rb"\\([0-7]{1,3}|\r\n|[\s\S])")
_ESCAPES = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
            b"\r\n": b"", b"\r": b"", b"\n": b""}


def _hex_string(s: bytes) -> bytes:
    """A hex string's bytes, as Lexer reads them: every non-hex character
    dropped, an odd last digit padded with 0."""
    try:
        return bytes.fromhex(s.decode("latin-1"))
    except ValueError:
        s = _NON_HEX_RE.sub(b"", s)
        return bytes.fromhex((s + b"0" if len(s) % 2 else s).decode())


def _escape(m) -> bytes:
    e = m[1]
    v = _ESCAPES.get(e)
    if v is not None:
        return v
    if 0x30 <= e[0] <= 0x37:
        return bytes((int(e, 8) & 0xFF,))
    return e  # \( \) \\ and any other escaped character stand for themselves


def _unescape(s: bytes) -> bytes:
    """A literal string's bytes, as Lexer reads them: \\n \\r \\t \\b \\f,
    up to three octal digits, a backslash before a line end dropped with
    it, and before any other character dropped."""
    return _ESCAPE_RE.sub(_escape, s)


_INLINE_KEY_ABBREV = {
    "W": "Width", "H": "Height", "BPC": "BitsPerComponent",
    "CS": "ColorSpace", "F": "Filter", "D": "Decode",
    "DP": "DecodeParms", "IM": "ImageMask", "I": "Interpolate",
    "L": "Length",
}
_INLINE_CS_ABBREV = {"G": "DeviceGray", "RGB": "DeviceRGB",
                     "CMYK": "DeviceCMYK", "I": "Indexed"}
_INLINE_CS_CHANNELS = {"DeviceGray": 1, "DeviceRGB": 3, "DeviceCMYK": 4}


def _expand_inline_attrs(attrs: dict) -> dict:
    out = {}
    for k, v in attrs.items():
        k = _INLINE_KEY_ABBREV.get(k, k)
        if k == "ColorSpace" and isinstance(v, Name):
            v = Name(_INLINE_CS_ABBREV.get(str(v), str(v)))
        out[k] = v
    return out


def _read_inline_image(data: bytes, pos: int, n: int):
    """Parse ``BI <dict> ID <bytes> EI`` starting just after BI.

    Returns (expanded_attrs, sample_bytes, new_pos). Data extent: exact
    row arithmetic when unfiltered (spec-recommended), else /L when
    present, else a whitespace-guarded EI scan."""
    lex = Lexer(data, pos)
    attrs: Dict[str, object] = {}
    while True:
        t = lex.next_token()
        if t is None or (isinstance(t, tuple) and t[1] == "ID"):
            break
        v = _parse_from(lex, lex.next_token())
        if isinstance(t, Name):
            attrs[str(t)] = v
    attrs = _expand_inline_attrs(attrs)
    dpos = lex.pos
    if dpos < n and data[dpos] in _WS:
        dpos += 1
    filt = attrs.get("Filter")
    length = attrs.get("Length")
    if filt is None:
        w = int(attrs.get("Width", 0) or 0)
        h = int(attrs.get("Height", 0) or 0)
        bpc = int(attrs.get("BitsPerComponent", 8) or 8)
        cs = str(attrs.get("ColorSpace", "DeviceGray"))
        ch = 1 if attrs.get("ImageMask") else _INLINE_CS_CHANNELS.get(cs, 1)
        end = dpos + ((w * ch * bpc + 7) // 8) * h
        if end > n:
            raise ValueError("inline image data truncated")
    elif isinstance(length, int) and length >= 0:
        end = min(n, dpos + length)
    else:
        i = dpos
        while True:
            j = data.find(b"EI", i)
            if j == -1:
                end = n
                break
            nxt = data[j + 2] if j + 2 < n else 0x20
            if (j > dpos and data[j - 1] in _WS
                    and (nxt in _WS or nxt in b"/[]<>(Qq")):
                end = j
                break
            i = j + 2
    img = data[dpos:end]
    # advance past trailing ws + EI
    pos2 = end
    while pos2 < n and data[pos2] in _WS:
        pos2 += 1
    if data[pos2:pos2 + 2] == b"EI":
        pos2 += 2
    return attrs, img, pos2


def content_ops(data: bytes, stack: list):
    """Scan a content stream once: push each operand onto ``stack`` and
    yield each operator (bytes) when it is reached, its operands on top of
    the stack. Operand values are the Lexer's: a number with a '.' is a
    float, any other an int; names decode ``#xx``; a top-level array (TJ,
    d) collects its items, an operator inside it as a ``("kw", op)`` token;
    a stray ``]``, ``>``, ``}``, ``{`` or ``)`` is skipped. ``BI … EI`` is
    read whole: its StreamObj is pushed and ``b"BI"`` yielded (a malformed
    one is skipped to its ``EI``)."""
    n = len(data)
    lex = Lexer(data, 0)
    scan = _CONTENT_TOKEN_RE.finditer
    num = _NUMS.__getitem__
    arr = None  # the open top-level array (TJ operands), if any
    push, push_all = stack.append, stack.extend
    pos = 0
    while True:
        for m in scan(data, pos):
            k = m.lastindex
            if k == 1:  # numbers
                push_all(_number_run(m[1]))
            elif k == 3:  # operator
                op = m[3]
                if arr is not None:
                    push(_intern_kw(op.decode("latin-1")))
                elif op == b"BI":
                    break
                else:
                    yield op
            elif k == 2:  # a number
                push(num(m[2]))
            elif k == 4:  # name
                push(_NAMES[m[4]])
            elif k == 5:  # plain string
                push(m[5])
            elif k == 6:  # [
                if arr is not None:
                    break
                arr = []
                push, push_all = arr.append, arr.extend
            elif k == 7:  # ] > } { )
                if arr is not None and m[7] == b"]":
                    stack.append(arr)
                    arr = None
                    push, push_all = stack.append, stack.extend
            elif k == 8:  # hex string
                push(_hex_string(m[8]))
            elif k == 9:  # string with escapes
                push(_unescape(m[9]))
            else:
                break
        k = m.lastindex
        if k == 3:  # BI
            # inline image (ISO 32000 §8.9.7): the abbreviated dict up to
            # ID, then the sample data
            try:
                attrs, img, pos = _read_inline_image(data, m.end(), n)
            except Exception:  # noqa: BLE001 — malformed: skip to EI
                end = data.find(b"EI", m.end())
                pos = n if end == -1 else end + 2
                continue
            push(StreamObj(attrs, img))
            yield b"BI"
            continue
        d = m[k]
        if not d:  # the end of the data
            if arr is not None:
                stack.append(arr)
            return
        if d == b"(" or d == b"<":  # escaped/nested string, hex string
            lex.pos = m.start(k)
            push(lex.next_token())
        else:  # << or a nested [
            lex.pos = m.end()
            push(_parse_from(lex, "<<" if d == b"<<" else "["))
        pos = lex.pos


def _number(v):
    """A numeric operand with its ORIGINAL int/float type preserved
    (pdfminer parity: '1 0 0 1 45.83 660.69 Tm' serializes as
    (1, 0, 0, 1, 45.83, 660.69) — ints stay ints). An int no float holds
    raises OverflowError here, inside its operator, not later in float
    arithmetic on the state it would reach; an operand float() rejects
    reads as 0."""
    if isinstance(v, float):
        return v
    if isinstance(v, int):
        float(v)
        return v
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0


def _pop_numbers(stack: list, n: int) -> list:
    """The top ``n`` operands, popped, in stack order, each as
    :func:`_number` reads it; IndexError if the stack holds fewer."""
    vals = stack[-n:]
    del stack[-n:]
    if len(vals) < n:
        raise IndexError("operand stack underflow")
    if _NUM_TYPES.issuperset(map(type, vals)):
        if max(map(abs, vals)) > _FLOAT_MAX:  # an int too large, or inf
            for v in vals:
                if type(v) is int:
                    float(v)  # the OverflowError of an int too large
        return vals
    return [_number(v) for v in vals]


def _pop_floats(stack: list, n: int) -> list:
    """The top ``n`` operands, popped, in stack order, as floats."""
    vals = stack[-n:]
    del stack[-n:]
    if len(vals) < n:
        raise IndexError("operand stack underflow")
    return list(map(float, vals))


CHAR_COLUMNS = [
    "text", "fontname", "size", "adv", "upright",
    "x0", "x1", "y0", "y1", "top", "bottom", "doctop", "width", "height",
    "matrix", "stroking_color", "non_stroking_color", "mcid", "tag",
]
LINE_COLUMNS = [
    "x0", "x1", "y0", "y1", "top", "bottom", "doctop", "width", "height",
    "linewidth", "stroke", "fill", "stroking_color", "non_stroking_color",
    "pts", "mcid", "tag", "evenodd", "dash", "path",
    "stroking_pattern", "non_stroking_pattern",
]
# the fields of an image row (PageInterpreter._emit_image): the XObject's
# resource name, its placement box, source size, bits, mask flag, resolved
# colour space and the XObject itself, so the pixel-decode path
# (kernel/images.py) enumerates in PAINT order (one row per Do,
# Form-nested included), the reference's page.images semantics, without
# re-resolving names against the wrong resources dict
IMAGE_COLUMNS = [
    "name", "x0", "x1", "y0", "y1", "top", "bottom", "doctop", "width",
    "height", "srcwidth", "srcheight", "bits", "imagemask", "colorspace",
    "stream",
]


def _chain_sums(t_chain, t_pos, t_val, chain_len, q_chain, q_pos):
    """Running sums of text chains' terms. Term ``i`` is ``t_val[i]`` at
    position ``t_pos[i]`` of chain ``t_chain[i]``, whose sequence is
    ``chain_len`` terms long; query ``j`` is the sum of chain ``q_chain[j]``'s
    terms before position ``q_pos[j]``. Each chain fills one row, 0.0 and
    then its terms, zero-padded at the end, and one cumsum over the rows
    adds each chain's terms one at a time, in order. Chains of very
    different lengths go to separate blocks (by power-of-two row width),
    so padding stays under half of a block and memory is linear in the
    number of terms."""
    width = 1 + chain_len
    rows = np.arange(len(width))

    def block_sums(t_sel, q_sel, n_rows, w):
        block = np.zeros((n_rows, w), dtype=np.float64)
        block[rows[t_chain[t_sel]], 1 + t_pos[t_sel]] = t_val[t_sel]
        return np.cumsum(block, axis=1)[rows[q_chain[q_sel]], q_pos[q_sel]]

    if len(width) * width.max() <= 2 * width.sum() + 4096:
        return block_sums(slice(None), slice(None), len(width), width.max())
    key = np.frexp(width)[1]
    x = np.empty(len(q_chain), dtype=np.float64)
    for k in np.unique(key):
        in_k = key == k
        rows[in_k] = np.arange(np.count_nonzero(in_k))
        q_sel = np.flatnonzero(in_k[q_chain])
        x[q_sel] = block_sums(np.flatnonzero(in_k[t_chain]), q_sel,
                              np.count_nonzero(in_k), width[in_k].max())
    return x


class PageInterpreter:
    """Executes one page's content stream, emitting object rows."""

    def __init__(self, doc: PDFDocument, page_spec: dict, page_number: int,
                 initial_doctop: float = 0.0, style: bool = True):
        self.doc = doc
        self.page_number = page_number
        self.initial_doctop = initial_doctop
        self.style = style  # False: skip per-char matrix/color capture
        def _mbnum(v):
            v = doc.resolve(v)
            # raw int/float preserved (base-CTM entries are serialized
            # in char matrices); junk raises like the old float() did
            return v if isinstance(v, (int, float)) else float(v)

        mb = [_mbnum(v) for v in
              doc.resolve(page_spec.get("MediaBox") or [0, 0, 612, 792])]
        x0, y0, x1, y1 = mb
        if x0 > x1:
            x0, x1 = x1, x0
        if y0 > y1:
            y0, y1 = y1, y0
        self.mb = (x0, y0, x1, y1)
        self.width = x1 - x0
        self.height = y1 - y0
        self.rotation = int(doc.resolve(page_spec.get("Rotate", 0)) or 0) % 360
        if self.rotation in (90, 270):
            self.width, self.height = self.height, self.width
        # device-space y extent: the y-flip base (page.py:192-197 analogue)
        self._flip_h = self.height
        # CropBox in the page's top-left frame (reference page.py:228-238:
        # _normalize_box with rotation swap, then y-invert within the
        # mediabox height; our frame additionally shifts the mediabox
        # origin to 0). Defaults to the mediabox.
        self.cropbox = (0.0, 0.0, self.width, self.height)
        cb_attr = page_spec.get("CropBox")
        if cb_attr is not None:
            try:
                cb = [float(doc.resolve(v)) for v in doc.resolve(cb_attr)]
                cx0, cx1 = sorted((cb[0], cb[2]))
                cy0, cy1 = sorted((cb[1], cb[3]))
                if self.rotation in (90, 270):
                    cx0, cy0, cx1, cy1 = cy0, cx0, cy1, cx1
                    ox, oy = y0, x0
                else:
                    ox, oy = x0, y0
                self.cropbox = (
                    cx0 - ox, self.height - (cy1 - oy),
                    cx1 - ox, self.height - (cy0 - oy),
                )
            except (TypeError, ValueError):
                pass
        res = doc.resolve(page_spec.get("Resources")) or {}
        self.resources = res
        self.fonts = self._load_fonts(res)
        self.contents = self._load_content(page_spec)
        # output accumulators: text, font and cid append per string run;
        # the geometry is one vectorized pass at the end of run()
        # (_emit_chars): ch_num, (n_chars, 12) C-contiguous doubles in
        # NUM_FIELDS order, and ch_style, per char (matrix, stroke, fill,
        # ncs, stroke pattern, fill pattern) as STYLE_ATTRS, empty unless
        # style
        self.ch_text: List[str] = []
        self.ch_font: List[str] = []
        # per-char raw CID (emit order == char_index), interpreter-private:
        # display joins through it to render CID-keyed embedded fonts;
        # NOT a chars-frame column (reference parity: no 'cid' attr)
        self.ch_cid: List[int] = []
        self.ch_num = np.empty((0, 12), dtype=np.float64)
        self.ch_style: List[tuple] = []
        # marked-content runs: (chars_emitted_before_change, mcid, tag)
        # (page.py:128-176 semantics, recorded as spans not per-char)
        self.mc_spans: List[tuple] = []
        # object kinds in FIRST-paint order (reference Page.objects dict
        # insertion order; drives to_csv/to_json type ordering)
        self.kind_order: List[str] = []
        # current marked-content (mcid, tag) for path/image rows
        self._cur_mc: tuple = (None, None)
        self.lines: List[tuple] = []
        self.rects: List[tuple] = []
        self.curves: List[tuple] = []
        self.images: List[tuple] = []

    def _load_fonts(self, res: dict) -> Dict[str, Font]:
        """Resource name -> Font. Font objects are cached per document by
        their indirect ref: pages of the same doc share font dictionaries,
        and re-parsing Widths/ToUnicode/CID-W per page is pure waste.
        (Resource NAME can differ across pages for the same ref; Font.name
        is only a BaseFont fallback, so sharing is safe.)"""
        fonts: Dict[str, Font] = {}
        fdict = self.doc.resolve(res.get("Font")) or {}
        cache = getattr(self.doc, "_font_cache", None)
        if cache is None:
            cache = self.doc._font_cache = {}
        for fname, fref in fdict.items():
            key = fref.num if isinstance(fref, Ref) else None
            if key is not None and key in cache:
                fonts[str(fname)] = cache[key]
                continue
            spec = self.doc.resolve(fref)
            if isinstance(spec, dict):
                f = Font(self.doc, spec, str(fname))
                fonts[str(fname)] = f
                if key is not None:
                    cache[key] = f
        return fonts

    @property
    def n_chars(self) -> int:
        return len(self.ch_text)

    def _load_content(self, page_spec) -> bytes:
        c = self.doc.resolve(page_spec.get("Contents"))
        if isinstance(c, StreamObj):
            return c.get_data(self.doc)
        if isinstance(c, list):
            return b"\n".join(
                s.get_data(self.doc)
                for s in (self.doc.resolve(x) for x in c)
                if isinstance(s, StreamObj)
            )
        return b""

    # device-space (bottom-up) -> page top-left space
    def _flip(self, y: float) -> float:
        return self._flip_h - y

    def annots(self, page_spec: dict) -> List[dict]:
        """Annotation rows (``page.py:280-319`` semantics): rect y-flipped
        to top/bottom/doctop; uri/title/contents decoded utf-8 with utf-16
        fallback. Hyperlinks = rows with non-null uri."""
        doc = self.doc
        raw = doc.resolve(page_spec.get("Annots")) or []
        out = []
        for aref in raw:
            annot = doc.resolve(aref)
            if not isinstance(annot, dict):
                continue
            rect = [float(doc.resolve(v)) for v in (doc.resolve(annot.get("Rect")) or [0, 0, 0, 0])]
            action = doc.resolve(annot.get("A")) or {}
            extras = {
                "uri": doc.resolve(action.get("URI")) if isinstance(action, dict) else None,
                "title": doc.resolve(annot.get("T")),
                "contents": doc.resolve(annot.get("Contents")),
            }
            for k, v in extras.items():
                if isinstance(v, (bytes, bytearray)):
                    b = bytes(v)
                    try:
                        extras[k] = b.decode("utf-8")
                    except UnicodeDecodeError:
                        try:
                            extras[k] = b.decode("utf-16")
                        except UnicodeDecodeError:
                            extras[k] = b.decode("latin-1")
                elif v is not None:
                    extras[k] = str(v)
            out.append(
                {
                    "page_number": self.page_number,
                    "object_type": "annot",
                    "x0": rect[0],
                    "y0": rect[1],
                    "x1": rect[2],
                    "y1": rect[3],
                    "doctop": self.initial_doctop + self.height - rect[3],
                    "top": self.height - rect[3],
                    "bottom": self.height - rect[1],
                    "width": rect[2] - rect[0],
                    "height": rect[3] - rect[1],
                    **extras,
                    # raw annot dict with document-bound refs (reference
                    # page.py annots keep the pdfminer object as "data")
                    "data": bind_refs(annot, doc),
                }
            )
        return out

    def run(self):
        # base CTM: translate mediabox origin to 0 + rotation
        # base CTM per rotation — pdfminer's convention (pdfinterp
        # process_page), which the reference's upright/direction semantics
        # are built around
        x0, y0, x1, y1 = self.mb
        if self.rotation == 90:
            ctm = (0, -1, 1, 0, -y0, x1)
        elif self.rotation == 180:
            ctm = (-1, 0, 0, -1, x1, y1)
        elif self.rotation == 270:
            ctm = (0, 1, -1, 0, y1, -x0)
        else:
            ctm = (1, 0, 0, 1, -x0, -y0)
        # the page's glyph runs, for _emit_chars: per char its
        # font.char_width(cid); per string run its chars, chain,
        # needcharspace and numeric state (_render_string) and, if style,
        # its (a, b, c, d, stroke, fill, ncs, stroke pattern, fill
        # pattern); text chains, the runs sharing one x accumulation, as
        # their pending TJ kern terms; kerns as (char index, term)
        self._ch_width: List[float] = []
        self._runs: List[tuple] = []
        self._run_style: List[tuple] = []
        self._chains: List[list] = []
        self._kerns: List[tuple] = []
        self._exec(self.contents, ctm, self.fonts, self.resources)
        self.ch_num, self.ch_style = self._emit_chars()
        del (self._ch_width, self._runs, self._run_style, self._chains,
             self._kerns)
        return self

    def _exec(self, content: bytes, base_ctm, fonts=None, res=None, depth=0):
        """Run one content stream: :func:`content_ops` scans it once, and
        each operator runs its handler from ``ops``, a table keyed on the
        operator's bytes. A handler pops its own operands and leaves the
        rest on the stack; an unknown operator drops them all, and so does
        a malformed one (an IndexError, ValueError, TypeError or
        OverflowError: an integer operand too large for a float), not the
        page."""
        doc = self.doc
        fonts = self.fonts if fonts is None else fonts
        res = self.resources if res is None else res
        stack: List[object] = []
        pop = stack.pop
        gs_stack: List[tuple] = []
        ctm = base_ctm

        # graphics state
        linewidth = 1
        dash = None  # pdfminer PDFGraphicState.dash default (None until
        # a 'd' op runs; pdffill-demo sets '[] 0 d' -> ([], 0))
        stroke_color = None  # pdfminer PDFGraphicState: scolor=None
        fill_color = None
        # colorspace NAMES (pdfminer interpreter scs/ncs; default =
        # PREDEFINED_COLORSPACE's first entry, DeviceGray)
        scs_name = "DeviceGray"
        ncs_name = "DeviceGray"
        stroke_pattern = None
        fill_pattern = None
        # text state
        font: Optional[Font] = None
        fontsize = 0.0
        charspace = 0.0
        wordspace = 0.0
        scaling = 100.0
        leading = 0.0
        rise = 0.0
        tm = MATRIX_ID
        # the text chain the next glyph run continues (pdfminer's
        # linematrix x); None: a new chain starts at x = 0
        chain = None
        path: List[List[Tuple[str, float, float]]] = []
        cur: List[Tuple[str, float, float]] = []

        def show(seq):
            nonlocal chain
            if font is not None:
                chain = self._render_string(
                    seq, tm, ctm, chain, font, fontsize, scaling, charspace,
                    wordspace, rise, (stroke_color, fill_color, ncs_name,
                                      stroke_pattern, fill_pattern),
                )

        def show_string(raw):
            if isinstance(raw, (bytes, bytearray)):
                show((raw,))

        def paint(stroke: bool, fill: bool, evenodd: bool = False):
            nonlocal path, cur
            if cur:
                path.append(cur)
                cur = []
            for sub in path:
                self._emit_path(sub, ctm, linewidth, stroke, fill, evenodd,
                                stroke_color, fill_color, dash,
                                stroke_pattern, fill_pattern)
            path = []

        def close_path():
            if cur:
                cur.append(("h", cur[0][1], cur[0][2]))

        # -- graphics state
        def op_q():
            # text state (Tc/Tw/Tz/TL/Tf/Ts) is PART of the graphics state
            # (ISO 32000 §9.3.1) — a -0.02 Tc set inside a q..Q block must
            # not leak into later text (round-5 reference-port finding,
            # issue-987)
            gs_stack.append((ctm, linewidth, stroke_color, fill_color,
                             charspace, wordspace, scaling, leading, rise,
                             font, fontsize, dash, scs_name, ncs_name,
                             stroke_pattern, fill_pattern))

        def op_Q():
            nonlocal ctm, linewidth, stroke_color, fill_color, charspace, \
                wordspace, scaling, leading, rise, font, fontsize, dash, \
                scs_name, ncs_name, stroke_pattern, fill_pattern
            if gs_stack:
                (ctm, linewidth, stroke_color, fill_color, charspace,
                 wordspace, scaling, leading, rise, font, fontsize, dash,
                 scs_name, ncs_name, stroke_pattern, fill_pattern) = gs_stack.pop()

        def op_cm():
            nonlocal ctm
            ctm = mat_mult(_pop_numbers(stack, 6), ctm)

        def op_w():
            nonlocal linewidth
            linewidth = _number(pop())

        def op_d():
            nonlocal dash
            ph = _number(pop())
            arr = pop() if stack else []
            dash = (list(arr) if isinstance(arr, (list, tuple)) else [], ph)

        # -- text objects, state and positioning
        def op_BT():
            nonlocal tm, chain
            tm = MATRIX_ID
            chain = None

        def op_ET():
            pass

        def op_Tf():
            nonlocal fontsize, font
            fontsize = float(pop())
            font = fonts.get(str(pop()))

        def op_Td():
            nonlocal tm, chain
            tm = mat_translate(tm, *_pop_numbers(stack, 2))
            chain = None

        def op_TD():
            nonlocal tm, chain, leading
            tx, ty = _pop_numbers(stack, 2)
            leading = -ty
            tm = mat_translate(tm, tx, ty)
            chain = None

        def op_Tm():
            nonlocal tm, chain
            tm = tuple(_pop_numbers(stack, 6))
            chain = None

        def op_Tstar():
            nonlocal tm, chain
            tm = mat_translate(tm, 0, -leading)
            chain = None

        def op_TL():
            nonlocal leading
            leading = _number(pop())

        def op_Tc():
            nonlocal charspace
            charspace = float(pop())

        def op_Tw():
            nonlocal wordspace
            wordspace = float(pop())

        def op_Tz():
            nonlocal scaling
            scaling = float(pop())

        def op_Ts():
            nonlocal rise
            rise = float(pop())

        # -- text showing
        def op_Tj():
            show_string(pop())

        def op_quote():
            op_Tstar()
            show_string(pop())

        def op_dquote():
            nonlocal charspace, wordspace
            s = pop()
            charspace = float(pop())
            wordspace = float(pop())
            op_Tstar()
            show_string(s)

        def op_TJ():
            show(pop())

        # -- path construction and painting
        def op_m():
            nonlocal cur
            x, y = _pop_floats(stack, 2)
            if cur:
                path.append(cur)
            cur = [("m", x, y)]

        def op_l():
            x, y = _pop_floats(stack, 2)
            cur.append(("l", x, y))

        def op_c():
            x1, y1, x2, y2, x3, y3 = _pop_floats(stack, 6)
            cur.extend([("c1", x1, y1), ("c2", x2, y2), ("c", x3, y3)])

        def op_v():
            x2, y2, x3, y3 = _pop_floats(stack, 4)
            cur.extend([("c2", x2, y2), ("c", x3, y3)])

        def op_y():
            x1, y1, x3, y3 = _pop_floats(stack, 4)
            cur.extend([("c1", x1, y1), ("c", x3, y3)])

        def op_re():
            nonlocal cur
            x, y, ww, hh = _pop_floats(stack, 4)
            if cur:
                path.append(cur)
            path.append([("m", x, y), ("l", x + ww, y), ("l", x + ww, y + hh),
                         ("l", x, y + hh), ("h", x, y)])
            cur = []

        def op_s():
            close_path()
            paint(True, False)

        def op_b():
            close_path()
            paint(True, True)

        def op_bstar():
            close_path()
            paint(True, True, True)

        def op_n():
            nonlocal path, cur
            if cur:
                path.append(cur)
                cur = []
            path = []

        # -- colour
        def op_g():
            nonlocal fill_color, ncs_name
            fill_color = (_number(pop()),)
            ncs_name = "DeviceGray"

        def op_G():
            nonlocal stroke_color, scs_name
            stroke_color = (_number(pop()),)
            scs_name = "DeviceGray"

        def op_rg():
            nonlocal fill_color, ncs_name
            fill_color = tuple(_pop_numbers(stack, 3))
            ncs_name = "DeviceRGB"

        def op_RG():
            nonlocal stroke_color, scs_name
            stroke_color = tuple(_pop_numbers(stack, 3))
            scs_name = "DeviceRGB"

        def op_k():
            nonlocal fill_color, ncs_name
            fill_color = tuple(_pop_numbers(stack, 4))
            ncs_name = "DeviceCMYK"

        def op_K():
            nonlocal stroke_color, scs_name
            stroke_color = tuple(_pop_numbers(stack, 4))
            scs_name = "DeviceCMYK"

        def op_cs():
            nonlocal ncs_name
            ncs_name = self._colorspace_name(str(pop()) if stack else "", res)

        def op_CS():
            nonlocal scs_name
            scs_name = self._colorspace_name(str(pop()) if stack else "", res)

        def set_color(pattern_ok: bool):
            """The operands of sc/scn (``pattern_ok``: scn/SCN, whose
            Pattern colour space takes a trailing /Name): the colour and
            pattern, or None if there are neither."""
            pat = None
            if pattern_ok and stack and not isinstance(stack[-1], (int, float)):
                pat = str(pop())
            vals = []
            while stack and isinstance(stack[-1], (int, float)):
                vals.append(pop())
            vals.reverse()
            if vals or pat is not None:
                return tuple(vals) if vals else None, pat
            return None

        def op_sc(pattern_ok=False):
            nonlocal fill_color, fill_pattern
            got = set_color(pattern_ok)
            if got is not None:
                fill_color, fill_pattern = got

        def op_SC(pattern_ok=False):
            nonlocal stroke_color, stroke_pattern
            got = set_color(pattern_ok)
            if got is not None:
                stroke_color, stroke_pattern = got

        # -- XObjects, inline images and marked content
        def op_Do():
            xname = str(pop()) if stack else None
            xdict = doc.resolve((res or {}).get("XObject")) or {}
            xo = doc.resolve(xdict.get(xname))
            if not isinstance(xo, StreamObj):
                return
            subtype = str(doc.resolve(xo.attrs.get("Subtype", "")))
            if subtype == "Image":
                self._emit_image(xname, xo, ctm)
            elif subtype == "Form" and depth < 8:
                xres = doc.resolve(xo.attrs.get("Resources"))
                xres = xres if isinstance(xres, dict) else res
                mtx = doc.resolve(xo.attrs.get("Matrix"))
                if mtx:
                    fm = tuple(float(doc.resolve(v)) for v in mtx)
                    form_ctm = mat_mult(fm, ctm)
                else:
                    form_ctm = ctm
                xfonts = self._load_fonts(xres) if xres is not res else fonts
                try:
                    self._exec(xo.get_data(doc), form_ctm, xfonts, xres,
                               depth + 1)
                except Exception:  # noqa: BLE001
                    pass

        def op_BI():
            # content_ops parsed BI..ID..EI (reference: pdfminer emits
            # inline images as LTImage too)
            self._emit_image("Inline", pop(), ctm)

        def marked(mcid, tag):
            tag = str(tag) if tag is not None else None
            self.mc_spans.append((len(self.ch_text), mcid, tag))
            self._cur_mc = (mcid, tag)

        def op_BDC():
            props = pop() if stack else None
            tag = pop() if stack else None
            if isinstance(props, Name):
                plist = doc.resolve((res or {}).get("Properties")) or {}
                props = doc.resolve(plist.get(str(props)))
            mcid = None
            if isinstance(props, dict) and "MCID" in props:
                try:
                    mcid = int(doc.resolve(props["MCID"]))
                except (TypeError, ValueError):
                    mcid = None
            marked(mcid, tag)

        def op_BMC():
            marked(None, pop() if stack else None)

        def op_EMC():
            self.mc_spans.append((len(self.ch_text), None, None))
            self._cur_mc = (None, None)

        ops = {
            b"q": op_q, b"Q": op_Q, b"cm": op_cm, b"w": op_w, b"d": op_d,
            b"BT": op_BT, b"ET": op_ET, b"Tf": op_Tf, b"Td": op_Td,
            b"TD": op_TD, b"Tm": op_Tm, b"T*": op_Tstar, b"TL": op_TL,
            b"Tc": op_Tc, b"Tw": op_Tw, b"Tz": op_Tz, b"Ts": op_Ts,
            b"Tj": op_Tj, b"'": op_quote, b'"': op_dquote, b"TJ": op_TJ,
            b"m": op_m, b"l": op_l, b"c": op_c, b"v": op_v, b"y": op_y,
            b"h": close_path, b"re": op_re,
            b"S": lambda: paint(True, False), b"s": op_s,
            b"f": lambda: paint(False, True), b"F": lambda: paint(False, True),
            b"f*": lambda: paint(False, True, True),
            b"B": lambda: paint(True, True),
            b"B*": lambda: paint(True, True, True),
            b"b": op_b, b"b*": op_bstar, b"n": op_n,
            b"g": op_g, b"G": op_G, b"rg": op_rg, b"RG": op_RG, b"k": op_k,
            b"K": op_K, b"cs": op_cs, b"CS": op_CS,
            b"sc": op_sc, b"scn": lambda: op_sc(True),
            b"SC": op_SC, b"SCN": lambda: op_SC(True),
            b"Do": op_Do, b"BI": op_BI,
            b"BDC": op_BDC, b"BMC": op_BMC, b"EMC": op_EMC,
        }
        get, clear = ops.get, stack.clear
        for op in content_ops(content, stack):
            # an unknown operator (a stray ID or EI too) drops its operands
            try:
                get(op, clear)()
            except (IndexError, ValueError, TypeError, OverflowError):
                clear()

    def _render_string(self, seq, tm, ctm, chain, font, fontsize,
                       scaling_pct, charspace_raw, wordspace_raw, rise, style):
        """Record one text-showing operator (pdfminer's render_string) for
        the page's emission pass, :meth:`_emit_chars`: text, font and cid
        append now (``mc_spans`` count chars), and the operator's strings
        record one run: its state, its place in its text ``chain`` and the
        TJ kerning before each glyph. Returns the chain, which later runs
        continue until the next line-matrix reset. ``style``: (stroke,
        fill, ncs, stroke pattern, fill pattern).

        One run per operator is the per-string runs of render_string
        merged: they share the operator's state, and a string after the
        first always takes the charspace before its first glyph, as any
        glyph but a run's first does."""
        scaling = scaling_pct * 0.01
        charspace = charspace_raw * scaling
        wordspace = 0.0 if font.multibyte else wordspace_raw * scaling
        dxscale = 0.001 * fontsize * scaling
        if chain is None:
            chain = len(self._chains)
            self._chains.append([])
        pending = self._chains[chain]  # TJ kern terms before its next glyph
        n0 = len(self.ch_text)
        cids: List[int] = []
        run = run_style = None
        needcharspace = False
        try:
            for item in seq:
                if isinstance(item, (int, float)):
                    pending.append(-(item * dxscale))
                    needcharspace = True
                    continue
                if not isinstance(item, (bytes, bytearray)) or not item:
                    continue
                if run is None:
                    a, b, c, d, e, f = mat_mult(tm, ctm)
                    descent = font.get_descent() * fontsize
                    y = 0.0  # render_string moves a chain along x only
                    run = (
                        chain, needcharspace, fontsize, scaling, charspace,
                        wordspace, a, b, e, f, y * c, y * d,
                        a * 0 + c * (descent + rise),
                        b * 0 + d * (descent + rise),
                        c * (descent + rise + fontsize),
                        d * (descent + rise + fontsize),
                        1.0 if (0 < a * d * scaling and b * c <= 0) else 0.0,
                    )
                    if self.style:
                        stroke, fill, *names = style
                        run_style = (
                            a, b, c, d,
                            None if stroke is None else list(stroke),
                            None if fill is None else list(fill), *names)
                if pending:
                    at = n0 + len(cids)
                    self._kerns.extend([(at, t) for t in pending])
                    pending.clear()
                cids += font.decode(item) if font.multibyte else item
                needcharspace = True
        finally:
            # the strings before an operand that raised stay recorded
            if cids:
                self.ch_text.extend(map(font.glyph_text.__getitem__, cids))
                self._ch_width.extend(map(font.glyph_width.__getitem__, cids))
                self.ch_cid.extend(cids)
                self.ch_font.extend([font.basefont] * len(cids))
                self._runs.append((len(cids), *run))
                if self.style:
                    self._run_style.append(run_style)
        # an operator that raised notes no char kind, though its strings
        # before the operand stay recorded
        if cids:
            self._note_kind("char")
        return chain

    def _emit_chars(self):
        """(ch_num, ch_style) of every recorded run, in one vectorized pass.

        A glyph's x follows pdfminer's render_string, term by term: a text
        chain starts at x = 0; before each glyph it adds the TJ kerning
        terms that precede it (-kern * 0.001 * fontsize * scaling, in array
        order), then the charspace (except on the first glyph of an
        operator's strings when no kern came first); the glyph sits at that
        x; then x adds its advance (width * fontsize * scaling) and, after
        a 32 byte, the wordspace. Each chain's terms fill one row, in that
        order (each glyph's kerns, then its charspace, advance and
        wordspace slots), and a row-wise cumsum adds them one at a time as
        the per-glyph loop did (a zero term changes no sum: a chain's x
        starts at +0.0, so it is never -0.0). The glyph box is then the
        run's text matrix applied elementwise, in mat_translate /
        mat_apply operation order, so every column equals a per-glyph
        evaluation bit for bit."""
        n = len(self.ch_text)
        if not n:
            return np.empty((0, 12), dtype=np.float64), []
        runs = np.array(self._runs, dtype=np.float64)
        lens, chain, needcharspace = runs[:, :3].T.astype(np.int64)
        first = np.cumsum(lens) - lens
        (fontsize, scaling, charspace, wordspace, a, b, e, f, yc, yd,
         k0x, k0y, cdr1, ddr1, upright) = np.repeat(runs[:, 3:], lens, axis=0).T
        adv = np.array(self._ch_width, dtype=np.float64) * fontsize * scaling
        # per glyph: its kern slots, then charspace, advance, wordspace; a
        # column no glyph on the page uses is left out
        has_pre = bool(charspace.any())
        cols = [adv]
        if has_pre:
            pre = charspace.copy()
            pre[first[needcharspace == 0]] = 0.0
            cols.insert(0, pre)
        if wordspace.any():
            cols.append(np.where(np.array(self.ch_cid) == 32, wordspace, 0.0))
        kerns = np.array(self._kerns, dtype=np.float64).reshape(-1, 2)
        k_at = kerns[:, 0].astype(np.int64)
        nkern = np.bincount(k_at, minlength=n)
        slots = nkern + len(cols)
        # each glyph's first slot in its chain (a chain's glyphs, in
        # emission order, are its order)
        g_chain = np.repeat(chain, lens)
        order = np.argsort(g_chain, kind="stable")
        chain_len = np.bincount(g_chain, weights=slots,
                                minlength=len(self._chains)).astype(np.int64)
        off = np.empty(n, dtype=np.int64)
        off[order] = np.cumsum(slots[order]) - slots[order]
        off -= (np.cumsum(chain_len) - chain_len)[g_chain]
        k_rank = np.arange(len(k_at)) - (np.cumsum(nkern) - nkern)[k_at]
        x = _chain_sums(
            np.concatenate((g_chain[k_at], np.repeat(g_chain, len(cols)))),
            np.concatenate((off[k_at] + k_rank, (
                (off + nkern)[:, None] + np.arange(len(cols))).ravel())),
            np.concatenate((kerns[:, 1], np.column_stack(cols).ravel())),
            chain_len, g_chain, off + nkern + has_pre)
        # mat_translate(matrix, x, y), then mat_apply at the box corners
        ex = x * a + yc + e
        fy = x * b + yd + f
        p0x, p0y = k0x + ex, k0y + fy
        p1x, p1y = a * adv + cdr1 + ex, b * adv + ddr1 + fy
        xo, yo = p0x <= p1x, p0y <= p1y
        x0, x1 = np.where(xo, p0x, p1x), np.where(xo, p1x, p0x)
        y0, y1 = np.where(yo, p0y, p1y), np.where(yo, p1y, p0y)
        top = self._flip_h - y1
        block = np.column_stack((
            np.where(upright != 0, y1 - y0, x1 - x0), adv, upright, x0, x1,
            y0, y1, top, self._flip_h - y0, self.initial_doctop + top,
            x1 - x0, y1 - y0))
        style = []
        if self.style:
            ex, fy = ex.tolist(), fy.tolist()
            i = 0
            for (cnt, *_), (a_, b_, c_, d_, *rest) in zip(self._runs,
                                                          self._run_style):
                style.extend(([a_, b_, c_, d_, ex[j], fy[j]], *rest)
                             for j in range(i, i + cnt))
                i += cnt
        return block, style

    def _emit_image(self, name, xo, ctm):
        """Image placement row (``page.py`` image semantics): the CTM maps
        the unit square to the image's device-space box."""
        doc = self.doc
        corners = [mat_apply(ctm, px, py) for (px, py) in
                   ((0, 0), (1, 0), (0, 1), (1, 1))]
        xs = [p[0] for p in corners]
        ys = [p[1] for p in corners]
        x0, x1 = min(xs), max(xs)
        y0, y1 = min(ys), max(ys)
        top, bottom = self._flip(y1), self._flip(y0)
        self._note_kind("image")
        self.images.append(
            (
                name,
                x0, x1, y0, y1, top, bottom,
                self.initial_doctop + top, x1 - x0, bottom - top,
                int(doc.resolve(xo.attrs.get("Width", 0)) or 0),
                int(doc.resolve(xo.attrs.get("Height", 0)) or 0),
                int(doc.resolve(xo.attrs.get("BitsPerComponent", 0)) or 0),
                bool(doc.resolve(xo.attrs.get("ImageMask", False))),
                self._image_colorspace(xo),
                xo,
            )
        )

    def _image_colorspace(self, xo):
        """Resolved /ColorSpace names as a LIST (pdfminer LTImage
        .colorspace: resolve_all of the attr, wrapped in a list)."""
        try:
            cs = self.doc.resolve(xo.attrs.get("ColorSpace"))
            if cs is None:
                return None
            if isinstance(cs, list):
                return [str(self.doc.resolve(v))
                        if not isinstance(self.doc.resolve(v), (list, dict))
                        else self.doc.resolve(v) for v in cs]
            return [str(cs)]
        except Exception:  # noqa: BLE001
            return None

    def _note_kind(self, kind: str) -> None:
        if kind not in self.kind_order:
            self.kind_order.append(kind)

    def _colorspace_name(self, res_name: str, res) -> str:
        """cs/CS operand -> colorspace NAME (pdfminer csmap semantics:
        predefined names pass through; resource-defined spaces report
        their FAMILY, e.g. ICCBased/Indexed/Separation)."""
        predefined = {"DeviceGray", "CalRGB", "CalGray", "Lab", "DeviceRGB",
                      "DeviceCMYK", "Separation", "Indexed", "Pattern"}
        if res_name in predefined:
            return res_name
        try:
            csd = self.doc.resolve((res or {}).get("ColorSpace")) or {}
            spec = self.doc.resolve(csd.get(res_name))
            if isinstance(spec, list) and spec:
                return str(self.doc.resolve(spec[0]))
            if spec is not None:
                return str(spec)
        except Exception:  # noqa: BLE001
            pass
        return res_name

    def _emit_path(self, sub, ctm, linewidth, stroke, fill, evenodd,
                   stroke_color, fill_color, dash=None,
                   stroke_pattern=None, fill_pattern=None):
        # mat_apply(ctm, x, y) at each point, then the y flip
        a, b, c, d, e, f = ctm
        pts_dev = [(a * px + c * py + e, b * px + d * py + f)
                   for (_, px, py) in sub]
        kinds = "".join(k[0] for (k, _, _) in sub)
        if len(pts_dev) < 2:
            return
        xs, ys = zip(*pts_dev)
        x0, x1 = min(xs), max(xs)
        y0, y1 = min(ys), max(ys)
        flip_h = self._flip_h
        top, bottom = flip_h - y1, flip_h - y0
        pts_top = [(px, flip_h - py) for (px, py) in pts_dev]
        # reference `path` attr (page.py:392): drawing commands with
        # top-left coords; our flattened (tag, x, y) triples regroup as
        # m/l single points, c1+c2+c = cubic ('c', p1, p2, p3), c2+c =
        # 'v', c1+c = 'y', h = bare ('h',)
        path_cmds = []
        i = 0
        while i < len(sub):
            tag = sub[i][0]
            pt = pts_top[i]
            if tag == "m":
                path_cmds.append(("m", pt))
                i += 1
            elif tag == "l":
                path_cmds.append(("l", pt))
                i += 1
            elif tag == "h":
                path_cmds.append(("h",))
                i += 1
            elif tag == "c1":
                if i + 2 < len(sub) and sub[i + 1][0] == "c2":
                    path_cmds.append(("c", pt, pts_top[i + 1], pts_top[i + 2]))
                    i += 3
                else:  # c1 + c == 'y'
                    path_cmds.append(("y", pt, pts_top[i + 1]))
                    i += 2
            elif tag == "c2":  # c2 + c == 'v'
                path_cmds.append(("v", pt, pts_top[i + 1]))
                i += 2
            else:
                path_cmds.append((tag, pt))
                i += 1
        mcid, mctag = self._cur_mc
        row = (
            x0, x1, y0, y1, top, bottom, self.initial_doctop + top,
            x1 - x0, bottom - top, linewidth, stroke, fill,
            list(stroke_color) if stroke_color is not None else None,
            list(fill_color) if fill_color is not None else None,
            pts_top, mcid, mctag, evenodd, dash, path_cmds,
            stroke_pattern, fill_pattern,
        )
        if len(sub) == 2 and kinds == "ml":
            self._note_kind("line")
            self.lines.append(row)
        elif kinds in ("mlllh", "mllll") and len(set(pts_dev[:4])) == 4:
            self._note_kind("rect")
            self.rects.append(row)
        else:
            self._note_kind("curve")
            self.curves.append(row)


def parse_pdf(data: bytes, style: bool = True, password: str = "") -> List[PageInterpreter]:
    """Parse a PDF into per-page interpreters (already run)."""
    doc = PDFDocument(data, password=password)
    specs = doc.pages()
    out = []
    doctop = 0.0
    for i, spec in enumerate(specs):
        interp = PageInterpreter(doc, spec, i + 1, initial_doctop=doctop, style=style)
        interp.run()
        interp.annot_rows = interp.annots(spec)
        doctop += interp.height
        out.append(interp)
    return out


# --- a parsed page's objects as the reference's records ----------------------

# a char record's keys, in order (the record appends page_number): mcid/tag
# always, None on untagged pages like the reference's; the style columns
# add its LTChar extras (ncs colorspace name, patterns — page.py:351-380)
_CHAR_KEYS = ("text", "fontname", *NUM_FIELDS, "object_type", "mcid", "tag",
              *STYLE_ATTRS)
# the parser columns a facade page's CharArrays carries in ``extra`` (with
# object_type): the record keys it holds no core field for, plus
# char_index, the parser's emit order (display joins it to the char CIDs)
_CHAR_EXTRA = ("char_index", "fontname", "adv", "y0", "y1", "width", "mcid",
               "tag", *STYLE_ATTRS)
# the fields of the parser's row tuples, per non-char object kind
ROW_COLUMNS = {"line": LINE_COLUMNS, "rect": LINE_COLUMNS,
               "curve": LINE_COLUMNS, "image": IMAGE_COLUMNS}


class StreamWrapper:
    """PDFStream stand-in for image records: serializes like the
    reference's do_PDFStream ({'rawdata': base64}) and carries the XObject
    and its resource name (the reference keeps pdfminer's PDFStream)."""

    __slots__ = ("xo", "name")

    def __init__(self, xo, name=None):
        self.xo = xo
        self.name = name

    def __repr__(self):
        return f"<PDFStream {self.name or ''}>"


def page_chars(interp) -> CharArrays:
    """A parsed page's chars as the facade holds them: the record columns,
    ``object_type`` and tuple colours (reference colours are tuples)."""
    chars = CharArrays.from_interp(interp, _CHAR_EXTRA)
    chars.extra["object_type"] = np.full(chars.n, "char", dtype=object)
    for k in STYLE_ATTRS[:3]:
        chars.extra[k] = np.fromiter(
            (None if v is None else tuple(v) for v in chars.extra[k]),
            dtype=object, count=chars.n)
    return chars


def object_records(kind: str, objs, page_number: int) -> List[dict]:
    """The reference records of a page's ``kind`` objects, from its
    :func:`page_chars` (chars) or the parser's rows (other kinds); the
    reference's process_object adds page_number."""
    if kind == "char":
        cols = [v.tolist() for v in objs.select(_CHAR_KEYS).extra.values()]
        return [{**dict(zip(_CHAR_KEYS, vals)), "page_number": page_number}
                for vals in zip(*cols)]
    if kind == "image":
        return [_image_record(row, page_number) for row in objs]
    recs = [dict(zip(LINE_COLUMNS, row), object_type=kind,
                 page_number=page_number) for row in objs]
    for r in recs:
        for k in ("stroking_color", "non_stroking_color"):
            if r[k] is not None:  # reference colours are tuples
                r[k] = tuple(r[k])
    return recs


def _image_record(row, page_number: int) -> dict:
    """Reference image record (LTImage attrs in ALL_ATTRS + geometry):
    srcsize tuple, colorspace list, stream wrapper; the XObject NAME is
    intentionally absent (not in ALL_ATTRS)."""
    (name, x0, x1, y0, y1, top, bottom, doctop, w, h,
     srcw, srch, bits, imagemask, colorspace, xo) = row
    return {
        "x0": x0, "y0": y0, "x1": x1, "y1": y1,
        "width": w, "height": h,
        "stream": StreamWrapper(xo, name) if xo is not None else None,
        "srcsize": (srcw, srch),
        "imagemask": imagemask or None,
        "bits": bits,
        "colorspace": colorspace,
        "mcid": None,
        "tag": None,
        "object_type": "image",
        "page_number": page_number,
        "top": top, "bottom": bottom, "doctop": doctop,
    }


def pdf_to_frames(data: bytes, style: bool = True, password: str = "") -> Dict[str, pd.DataFrame]:
    """Parse PDF bytes -> dict of object DataFrames (chars/lines/rects/
    curves/pages) with page_number and ingestion-order index columns.

    ``style=False`` skips per-char matrix/color capture (text-extraction
    fast path; the columns are present but null)."""
    pages = parse_pdf(data, style=style, password=password)
    lines_rows, rects_rows, curves_rows, pages_rows = [], [], [], []
    char_cols = ["page_number", "char_index"] + CHAR_COLUMNS
    char_parts = []
    for p in pages:
        if p.n_chars:
            ca = CharArrays.from_interp(p, char_cols)
            char_parts.append([ca.extra[c] for c in char_cols])
        for i, ln in enumerate(p.lines):
            lines_rows.append((p.page_number, i) + ln)
        for i, r in enumerate(p.rects):
            rects_rows.append((p.page_number, i) + r)
        for i, cv in enumerate(p.curves):
            curves_rows.append((p.page_number, i) + cv)
        pages_rows.append((p.page_number, p.width, p.height, p.rotation))
    chars = pd.DataFrame(
        {c: np.concatenate([part[k] for part in char_parts])
         for k, c in enumerate(char_cols)} if char_parts else None,
        columns=char_cols,
    )
    lines = pd.DataFrame(
        lines_rows, columns=["page_number", "line_index"] + LINE_COLUMNS
    )
    rects = pd.DataFrame(
        rects_rows, columns=["page_number", "rect_index"] + LINE_COLUMNS
    )
    curves = pd.DataFrame(
        curves_rows, columns=["page_number", "curve_index"] + LINE_COLUMNS
    )
    pages_df = pd.DataFrame(
        pages_rows, columns=["page_number", "width", "height", "rotation"]
    )
    image_rows = [
        # first 14 fields only: the trailing colorspace/XObject entries
        # (round-6 facade additions) are python objects, not frame cells
        (p.page_number, i) + im[:14]
        for p in pages
        for i, im in enumerate(p.images)
    ]
    images = pd.DataFrame(
        image_rows,
        columns=["page_number", "image_index", *IMAGE_COLUMNS[:14]],
    )
    annot_rows = [r for p in pages for r in getattr(p, "annot_rows", [])]
    annots = pd.DataFrame(
        annot_rows,
        columns=[
            "page_number", "object_type", "x0", "y0", "x1", "y1",
            "doctop", "top", "bottom", "width", "height",
            "uri", "title", "contents",
        ],
    )
    return {
        "chars": chars, "lines": lines, "rects": rects,
        "curves": curves, "pages": pages_df, "annots": annots,
        "images": images,
    }
