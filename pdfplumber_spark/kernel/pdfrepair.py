"""Best-effort structural PDF repair, no external tools.

Reference parity target: ``pdfplumber/repair.py:8-69`` shells out to
Ghostscript (``-sDEVICE=pdfwrite`` re-emit). Ghostscript is unavailable in
this environment, so this module rebuilds the document from a tolerant
parse instead: brute-scan every ``N g obj`` marker (recovers broken or
missing xref tables, junk between objects, truncated trailers, bad
``startxref``), re-serialize each recoverable object with a corrected
direct ``/Length``, inline objects out of object streams, decrypt (with
the supplied password) and drop ``/Encrypt``, then write a fresh classic
xref + trailer (``kernel/pdfwrite.py``). The output parses with a strict
offset-driven reader.

The extraction pipeline itself never needs this — ``PDFDocument`` applies
the same tolerant scan internally — but ``repair()`` provides the
reference's public API and produces clean bytes for downstream tools.
"""

from __future__ import annotations

import re
from typing import Dict, Optional

from .pdfparse import Lexer, PDFDocument, Ref, parse_object
from .pdfwrite import live_objects, serialize, write_pdf

_OBJ_HEADER = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


def _stream_spans(data: bytes):
    """Merged (start, end) byte spans of stream bodies. Conservative: a
    binary body containing an early 'endstream'-like run shrinks its span,
    which is why candidates are ALSO header-validated — but a span never
    extends past a real 'endstream', so real object headers are never
    excluded."""
    spans = []
    for m in re.finditer(rb"\bstream\r?\n", data):
        e = data.find(b"endstream", m.end())
        spans.append((m.end(), len(data) if e == -1 else e))
    spans.sort()
    merged = []
    for s, e in spans:
        if merged and s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    return merged


def _header_parses(doc: PDFDocument, pos: int, num: int) -> bool:
    """True when the bytes at ``pos`` are an ``num _ obj`` header followed
    by a parseable object body."""
    m = _OBJ_HEADER.match(doc.data, pos)
    if not m or int(m.group(1)) != num:
        return False
    try:
        return parse_object(Lexer(doc.data, m.end())) is not None
    except Exception:  # noqa: BLE001
        return False


def _correct_xref(doc: PDFDocument) -> None:
    """Validate every 'raw' xref entry against the bytes it points at; a
    smashed offset (header absent or numbered differently) is replaced by
    the best scanned position of that object or dropped.
    ``_scan_all_objects`` alone can't do this — it setdefaults, so a
    present-but-wrong xref entry wins over the scan.

    Candidate selection (round-3 ADVICE): the brute ``N g obj`` scan can
    hit byte runs INSIDE binary stream bodies; blindly taking the last
    scanned position let such a false match override a merely
    offset-smashed object with garbage and silently drop content. Now the
    newest (= last, newest incremental update) position that lies OUTSIDE
    every stream extent and whose header parses into a valid object wins;
    in-stream positions are only a last resort, and still must parse."""
    data = doc.data
    import bisect

    spans = _stream_spans(data)
    starts = [s for s, _ in spans]

    def in_stream(pos: int) -> bool:
        i = bisect.bisect_right(starts, pos) - 1
        return i >= 0 and pos < spans[i][1]

    scan_pos: Dict[int, list] = {}
    for m in _OBJ_HEADER.finditer(data):
        scan_pos.setdefault(int(m.group(1)), []).append(m.start())

    def best_pos(num: int) -> Optional[int]:
        cands = scan_pos.get(num, [])
        for pos in reversed(cands):
            if not in_stream(pos) and _header_parses(doc, pos, num):
                return pos
        for pos in reversed(cands):  # last resort: everything is in-stream
            if _header_parses(doc, pos, num):
                return pos
        return None

    for num, ent in list(doc.xref.items()):
        if ent[0] != "raw":
            continue
        m = _OBJ_HEADER.match(data, ent[1])
        if not m or int(m.group(1)) != num:
            pos = best_pos(num)
            if pos is not None:
                doc.xref[num] = ("raw", pos, 0)
            else:
                del doc.xref[num]
    for num in scan_pos:
        if num not in doc.xref:
            pos = best_pos(num)
            if pos is not None:
                doc.xref[num] = ("raw", pos, 0)
    doc._cache.clear()


def repair_bytes(data: bytes, password: str = "") -> bytes:
    """Rebuild ``data`` into a clean PDF; raises ValueError when no
    document structure is recoverable (parity with the reference's
    PdfminerException on unrepairable input, repair.py:60-66)."""
    doc = PDFDocument(data, password=password)
    # always ALSO brute-scan: a valid-but-incomplete xref hides orphans
    doc._scan_all_objects()
    _correct_xref(doc)
    recovered = live_objects(doc)
    if not recovered:
        raise ValueError("no recoverable objects")

    root = doc.trailer.get("Root")
    if not (isinstance(root, Ref) and root.num in recovered):
        root = next((Ref(num, 0) for num, obj in recovered.items()
                     if isinstance(obj, dict)
                     and str(obj.get("Type", "")) == "Catalog"), None)
    if root is None:
        raise ValueError("no document catalog recoverable")
    trailer = {"Root": root}
    info = doc.trailer.get("Info")
    if isinstance(info, Ref) and info.num in recovered:
        trailer["Info"] = info

    # a reference to an unrecovered object is written as null
    bodies = {
        num: serialize(obj, lambda r: r.num if r.num in recovered else None)
        for num, obj in recovered.items()
    }
    return write_pdf(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n", bodies, trailer)


def strict_check(data: bytes) -> bool:
    """Offset-driven validation: every xref entry must point at the right
    ``N 0 obj`` header (what a non-tolerant reader requires)."""
    m = None
    for m in re.finditer(rb"startxref\s+(\d+)", data[-2048:]):
        pass
    if not m:
        return False
    pos = int(m.group(1))
    if data[pos:pos + 4] != b"xref":
        return False
    header = re.compile(rb"(\d+)\s+0\s+obj")
    lex = data[pos:]
    lines = lex.split(b"\n")
    # parse "start count" sections
    i = 1
    sections = []
    while i < len(lines):
        sm = re.match(rb"(\d+)\s+(\d+)\s*$", lines[i])
        if not sm:
            break
        sections.append((int(sm.group(1)), int(sm.group(2)), i + 1))
        i += 1 + int(sm.group(2))
    ok = 0
    for start, count, li in sections:
        for j in range(count):
            ent = lines[li + j]
            em = re.match(rb"(\d{10}) (\d{5}) ([nf])", ent)
            if not em:
                return False
            if em.group(3) == b"n":
                off = int(em.group(1))
                hm = header.match(data, off)
                if not hm or int(hm.group(1)) != start + j:
                    return False
                ok += 1
    return ok > 0
