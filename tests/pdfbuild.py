"""Hand-built PDFs for the writer round trips (split, repair, encryption),
and the parser buffers those round trips compare."""

import zlib

from pdfplumber_spark.kernel.pdfparse import LINE_COLUMNS, Ref, parse_pdf
from pdfplumber_spark.kernel.pdfwrite import write_pdf
from pdfplumber_spark.kernel.words import NUM_FIELDS

# doctop's column in ch_num and in the line/rect/curve rows
CH_DOCTOP = NUM_FIELDS.index("doctop")
ROW_DOCTOP = LINE_COLUMNS.index("doctop")


def page_buffers(it, doctop: bool = True) -> tuple:
    """One page's parser buffers: ch_text, ch_font, ch_cid, mc_spans, the
    bytes of ch_num, ch_style and the line/rect/curve rows. ``doctop=False``
    zeroes the doctop column, which depends on the pages before."""
    num = it.ch_num.copy()
    rows = [it.lines, it.rects, it.curves]
    if not doctop:
        num[:, CH_DOCTOP] = 0
        rows = [[r[:ROW_DOCTOP] + r[ROW_DOCTOP + 1:] for r in rs] for rs in rows]
    return (it.ch_text, it.ch_font, it.ch_cid, it.mc_spans, num.tobytes(),
            it.ch_style, *rows)


def parser_buffers(data: bytes, password: str = "") -> list:
    return [page_buffers(it) for it in parse_pdf(data, password=password)]


def fine_reals_pdf() -> bytes:
    """One page whose MediaBox, font /Widths and descriptor metrics carry
    more digits than ``%g`` keeps (six significant), as real documents'
    do: a writer that rounds them moves every char box."""
    widths = b" ".join(b"%.5f" % (226.07422 + 3.1234567 * i) for i in range(95))
    content = zlib.compress(
        b"BT /F1 12 Tf 72 700 Td (Fine reals stay whole) Tj "
        b"0 -14.5 Td (second line, 0123456789) Tj ET\n"
        b"0.75 w 72 640.5 m 300.25 640.5 l S")
    bodies = {
        1: b"<</Type/Catalog/Pages 2 0 R>>",
        2: b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
        3: b"<</Type/Page/Parent 2 0 R/MediaBox[0 0 595.2756 841.8898]"
           b"/Resources<</Font<</F1 4 0 R>>>>/Contents 5 0 R>>",
        4: b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica"
           b"/Encoding/WinAnsiEncoding/FirstChar 32/LastChar 126/Widths["
           + widths + b"]/FontDescriptor 6 0 R>>",
        5: b"<</Length %d/Filter/FlateDecode>>\nstream\n%s\nendstream"
           % (len(content), content),
        6: b"<</Type/FontDescriptor/FontName/Helvetica/Flags 32"
           b"/Ascent 718.12345/Descent -207.45678/CapHeight 718.5"
           b"/ItalicAngle 0/StemV 88/FontBBox[-166.25 -225.125 1000.5 931.75]>>",
    }
    return write_pdf(b"%PDF-1.4\n", bodies, {"Root": Ref(1, 0)})
