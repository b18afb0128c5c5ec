"""Page splitting (``kernel/pdfsplit.py``, the ``explode_skewed`` source):
each one-page part must parse to its source page's parser buffers, doctop
aside (it counts the heights of the pages before), and must hold only what
its own page reaches."""

import zlib

import pytest

from pdfbuild import fine_reals_pdf, page_buffers, parser_buffers
from pdfplumber_spark.kernel.pdfparse import PDFDocument, Ref, parse_pdf
from pdfplumber_spark.kernel.pdfsplit import split_pdf_pages
from pdfplumber_spark.kernel.pdfwrite import write_pdf
from pdfplumber_spark.sources.corpus import generate_rows


def _corpus_docs():
    """Every PDF of the seed-7 corpus that parses: 1 to 6 pages each."""
    for r in generate_rows(n_docs=120, seed=7, mega_pages=6):
        payload = r["html"]
        if payload is None or bytes(payload)[:5] != b"%PDF-":
            continue
        try:
            pages = parse_pdf(bytes(payload))
        except Exception:  # noqa: BLE001 - broken-family payloads
            continue
        yield r["url"], bytes(payload), pages


def test_parts_parse_like_their_source_pages():
    n_pages = 0
    for url, payload, pages in _corpus_docs():
        parts = split_pdf_pages(payload)
        assert len(parts) == len(pages), url
        for pn, (it, part) in enumerate(zip(pages, parts), start=1):
            got = [page_buffers(p, doctop=False) for p in parse_pdf(part)]
            assert got == [page_buffers(it, doctop=False)], (url, pn)
            n_pages += 1
    assert n_pages >= 130


def test_part_keeps_every_digit_of_a_real():
    """MediaBox, /Widths and descriptor reals with more than six
    significant digits survive the copy: the char boxes do not move."""
    (part,) = split_pdf_pages(fine_reals_pdf())
    assert parser_buffers(part) == parser_buffers(fine_reals_pdf())


def _linked_pages_pdf(n_pages: int) -> bytes:
    """``n_pages`` pages, each with two link annotations whose /P is their
    own page: one with a /Dest to the next page, one to the first."""
    bodies = {1: b"<</Type/Catalog/Pages 2 0 R>>"}
    font = 3
    bodies[font] = b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>"
    page_nums = [10 + 4 * i for i in range(n_pages)]
    for i, pn in enumerate(page_nums):
        content = zlib.compress(b"BT /F1 12 Tf 72 700 Td (page %d) Tj ET" % i)
        bodies[pn + 1] = (b"<</Length %d/Filter/FlateDecode>>\nstream\n%s"
                          b"\nendstream" % (len(content), content))
        for k, dest in ((2, page_nums[(i + 1) % n_pages]), (3, page_nums[0])):
            bodies[pn + k] = (
                b"<</Type/Annot/Subtype/Link/Rect[72 690 140 712]/P %d 0 R"
                b"/Dest[%d 0 R/XYZ 0 792 0]>>" % (pn, dest))
        bodies[pn] = (
            b"<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 %d 0 R>>>>/Contents %d 0 R"
            b"/Annots[%d 0 R %d 0 R]>>" % (font, pn + 1, pn + 2, pn + 3))
    bodies[2] = b"<</Type/Pages/Kids[%s]/Count %d>>" % (
        b" ".join(b"%d 0 R" % pn for pn in page_nums), n_pages)
    return write_pdf(b"%PDF-1.4\n", bodies, {"Root": Ref(1, 0)})


@pytest.mark.parametrize("n_pages", [2, 40, 200])
def test_part_holds_only_its_own_page(n_pages):
    """An annotation's /P and a /Dest to another page must not pull that
    page, and by its /Parent the whole page tree, into the part (nor walk
    the chain of next-page links, 200 pages deep)."""
    data = _linked_pages_pdf(n_pages)
    parts = split_pdf_pages(data)
    assert len(parts) == n_pages
    for i, (it, part) in enumerate(zip(parse_pdf(data), parts)):
        doc = PDFDocument(part)
        # page tree, page, catalog, content stream, font, two annotations
        assert len(doc.xref) == 7
        (page,) = doc.pages()
        for annot in doc.resolve(page["Annots"]):
            annot = doc.resolve(annot)
            assert annot["P"].num == page["_ref"]
            dest = doc.resolve(annot["Dest"])
            assert dest[0] is None or dest[0].num == page["_ref"]
        assert [page_buffers(p, doctop=False) for p in parse_pdf(part)] == [
            page_buffers(it, doctop=False)], i
