"""LAParams layout analysis parity (reference tests/test_laparams.py;
algorithm: pdfminer.six 20231228 group_objects/group_textlines re-derived in
kernel/laparams.py)."""

import pdfplumber_spark.api as pdfplumber
from reforacle import REFERENCE

PDFS = f"{REFERENCE}/tests/pdfs"
PATH = f"{PDFS}/issue-13-151201DSP-Fond-581-90D.pdf"


def test_without_laparams():
    # reference test_laparams.py:19-23
    with pdfplumber.open(PATH, laparams=None) as pdf:
        objs = pdf.pages[0].objects
        assert "textboxhorizontal" not in objs.keys()
        assert len(objs["char"]) == 4408


def test_with_laparams():
    # reference test_laparams.py:25-33 — counts pinned to pdfminer's output
    with pdfplumber.open(PATH, laparams={}) as pdf:
        page = pdf.pages[0]
        assert len(page.textboxhorizontals) == 27
        assert len(page.textlinehorizontals) == 79
        assert "text" in page.textboxhorizontals[0]
        assert "text" in page.textlinehorizontals[0]
        assert len(page.chars) == 4408
        assert "anno" not in page.objects.keys()


def test_vertical_texts():
    # reference test_laparams.py:35-46 — ALL FOUR counts now match
    # pdfminer exactly. The horizontal counts (142 lines / 74 boxes)
    # deviated for three rounds (157/132 at the worst) and were carried
    # as the one "needs live pdfminer" weak item; the round-5 fix that
    # closed it was the q/Q TEXT-STATE restore (ISO 32000 §9.3.1): a
    # char-spacing value leaking across q..Q blocks shifted char
    # geometry on this CID fixture just enough to split pdfminer's line
    # groups. Found via the reference-test porting sweep, not a
    # laparams change at all.
    path = f"{PDFS}/issue-192-example.pdf"
    laparams = {"detect_vertical": True}
    with pdfplumber.open(path, laparams=laparams) as pdf:
        page = pdf.pages[0]
        assert len(page.textlineverticals) == 11
        assert len(page.textboxverticals) == 6
        assert "text" in page.textboxverticals[0]
        assert "text" in page.textlineverticals[0]
        assert len(page.textlinehorizontals) == 142  # == pdfminer
        assert len(page.textboxhorizontals) == 74   # == pdfminer


def test_issue_383():
    # reference test_laparams.py:48-53
    with pdfplumber.open(PATH, laparams={}) as pdf:
        p0 = pdf.pages[0]
        assert "anno" not in p0.objects.keys()
        cropped = p0.crop((0, 0, 100, 100))
        assert len(cropped.objects)
