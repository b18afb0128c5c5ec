"""Type3 font support: widths live in glyph space and scale by FontMatrix
(pdfminer PDFType3Font semantics — hscale = apply_matrix_norm(matrix,(1,1));
reference renders these via pdfminer, missing-list item #8 in VERDICT r1)."""

from pdfplumber_spark.kernel.pdfparse import Ref, pdf_to_frames
from pdfplumber_spark.kernel.pdfwrite import write_pdf


def _type3_pdf() -> bytes:
    content = b"BT /F3 24 Tf 100 700 Td (AB) Tj ET"
    glyph = b"0 0 d0"
    objs = []

    def obj(b):
        objs.append(b)
        return len(objs)

    cn = obj(b"<</Length %d>>\nstream\n%s\nendstream" % (len(content), content))
    ga = obj(b"<</Length %d>>\nstream\n%s\nendstream" % (len(glyph), glyph))
    font = obj(
        b"""<</Type/Font/Subtype/Type3/FontBBox[0 0 100 100]
/FontMatrix[0.01 0 0 0.01 0 0]
/CharProcs<</ga %d 0 R/gb %d 0 R>>
/Encoding<</Type/Encoding/Differences[65/ga 66/gb]>>
/FirstChar 65/LastChar 66/Widths[50 60]>>""" % (ga, ga)
    )
    page = obj(
        b"<</Type/Page/Parent 5 0 R/MediaBox[0 0 612 792]"
        b"/Resources<</Font<</F3 %d 0 R>>>>/Contents %d 0 R>>" % (font, cn)
    )
    pages_tree = obj(b"<</Type/Pages/Kids[%d 0 R]/Count 1>>" % page)
    cat = obj(b"<</Type/Catalog/Pages %d 0 R>>" % pages_tree)
    return write_pdf(b"%PDF-1.4\n", dict(enumerate(objs, 1)),
                     {"Root": Ref(cat, 0)})


def test_type3_fontmatrix_widths():
    ch = pdf_to_frames(_type3_pdf())["chars"]
    assert ch["text"].tolist() == ["A", "B"]
    # advance = Widths[cid] * FontMatrix_hscale * fontsize
    assert ch["x0"].tolist() == [100.0, 112.0]          # 50 * 0.01 * 24 = 12
    assert round(ch["width"].iloc[1], 6) == 14.4        # 60 * 0.01 * 24
    assert ch["size"].iloc[0] == 24.0
