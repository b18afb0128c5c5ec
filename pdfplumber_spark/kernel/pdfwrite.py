"""The package's one PDF writer: object syntax and the classic file layout.

``serialize`` writes a parsed object (``pdfparse`` model: dict, list, Name,
Ref, StreamObj, bytes, numbers, booleans, None) in one compact syntax:
``<</K v/K v>>``, ``[a b]``, hex strings, ``N 0 R``, and a stream's
``/Length`` set to its raw byte count. Reals keep their shortest round-trip
digits with no exponent, so a written value parses back to the same float.
``write_pdf`` lays numbered bodies out as ``N 0 obj ... endobj`` with a
classic xref table and trailer; ``live_objects`` picks what a rewrite of a
parsed document writes back. ``make_pdf``, ``encrypt_pdf``, ``repair_bytes``
and ``split_pdf_pages`` all write through these.
"""

from __future__ import annotations

import math
from decimal import Decimal
from typing import Callable, Dict, Optional

from .pdfparse import Name, PDFDocument, Ref, StreamObj

# name bytes written as #XX besides the non-printables (ISO 32000 7.3.5)
_NAME_ESCAPE = frozenset(b"()<>[]{}/%#")


def _name(n: str) -> bytes:
    out = bytearray(b"/")
    for b in n.encode("latin-1", "replace"):
        if b < 0x21 or b > 0x7E or b in _NAME_ESCAPE:
            out += b"#%02X" % b
        else:
            out.append(b)
    return bytes(out)


def _real(x: float) -> bytes:
    """Shortest round-trip digits, positional (PDF reals have no exponent);
    an integral value drops its ``.0``. PDF has no inf or nan: null."""
    if not math.isfinite(x):
        return b"null"
    s = repr(x)
    if "e" in s:
        s = format(Decimal(s), "f")
    if s.endswith(".0"):
        s = s[:-2]
    return s.encode()


def _write(obj, ref: Callable[[Ref], Optional[int]], out: bytearray) -> None:
    if obj is None or obj is True or obj is False:
        out += b"null" if obj is None else b"true" if obj else b"false"
    elif isinstance(obj, Ref):
        num = ref(obj)
        out += b"null" if num is None else b"%d 0 R" % num
    elif isinstance(obj, Name):
        out += _name(obj)
    elif isinstance(obj, int):
        out += b"%d" % obj
    elif isinstance(obj, float):
        out += _real(obj)
    elif isinstance(obj, (bytes, bytearray)):
        out += b"<" + bytes(obj).hex().encode() + b">"
    elif isinstance(obj, dict):
        out += b"<<"
        for k, v in obj.items():
            out += _name(str(k)) + b" "
            _write(v, ref, out)
        out += b">>"
    elif isinstance(obj, list):
        out += b"["
        for i, v in enumerate(obj):
            if i:
                out += b" "
            _write(v, ref, out)
        out += b"]"
    elif isinstance(obj, StreamObj):
        attrs = dict(obj.attrs)
        attrs["Length"] = len(obj.raw)
        _write(attrs, ref, out)
        out += b"\nstream\n" + obj.raw + b"\nendstream"
    else:  # a stray keyword or delimiter token has no object syntax
        out += b"null"


def serialize(obj, ref: Callable[[Ref], Optional[int]] = lambda r: r.num) -> bytes:
    """``obj`` as PDF object syntax. ``ref`` maps each ``Ref`` met to the
    object number to write (generation 0), or to None to write ``null``;
    by default a reference keeps its number."""
    out = bytearray()
    _write(obj, ref, out)
    return bytes(out)


def live_objects(doc: PDFDocument) -> Dict[int, object]:
    """The objects of ``doc`` a rewrite writes back, by number: every one
    that parses, less the xref and object-stream containers (their members
    are written as top-level objects; their offsets would be stale)."""
    out = {}
    for num in sorted(n for n in doc.xref if n > 0):
        try:
            obj = doc.get_object(num)
        except Exception:  # noqa: BLE001 - salvage what parses
            continue
        if obj is None or isinstance(obj, StreamObj) and str(
                obj.attrs.get("Type", "")) in ("XRef", "ObjStm"):
            continue
        out[num] = obj
    return out


def write_pdf(header: bytes, bodies: Dict[int, bytes], trailer: dict) -> bytes:
    """A PDF file: ``header``, then each body as ``N 0 obj ... endobj`` in
    number order, a classic xref (unused numbers are free entries) and the
    ``trailer`` dict with ``/Size`` first."""
    out = bytearray(header)
    offsets = {}
    for num in sorted(bodies):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + bodies[num] + b"\nendobj\n"
    xref_pos = len(out)
    size = max(bodies, default=0) + 1
    out += b"xref\n0 %d\n0000000000 65535 f \n" % size
    for num in range(1, size):
        off = offsets.get(num)
        out += (b"0000000000 65535 f \n" if off is None
                else b"%010d 00000 n \n" % off)
    out += b"trailer\n" + serialize({"Size": size, **trailer})
    out += b"\nstartxref\n%d\n%%%%EOF\n" % xref_pos
    return bytes(out)
