"""pdfplumber-compatible facade driven with the reference's own test
expectations (ported from tests/test_utils.py, test_ca_warn_report.py,
test_nics_report.py, test_table.py where runnable offline)."""

import pytest

import pdfplumber_spark.api as pdfplumber

SCOTUS = "/root/reference/tests/pdfs/scotus-transcript-p1.pdf"
WARN = "/root/reference/tests/pdfs/WARN-Report-for-7-1-2015-to-03-25-2016.pdf"
NICS = "/root/reference/tests/pdfs/nics-background-checks-2015-11.pdf"


@pytest.fixture(scope="module")
def scotus():
    with pdfplumber.open(SCOTUS) as pdf:
        yield pdf


@pytest.fixture(scope="module")
def warn():
    with pdfplumber.open(WARN) as pdf:
        yield pdf


def test_open_variants():
    data = open(SCOTUS, "rb").read()
    assert len(pdfplumber.open(data).pages) == 1
    import io

    assert len(pdfplumber.open(io.BytesIO(data)).pages) == 1


def test_page_limiting():
    # reference test_ca_warn_report.py:31-34
    with pdfplumber.open(WARN, pages=[1, 3]) as pdf:
        assert len(pdf.pages) == 2
        assert pdf.pages[1].page_number == 3


def test_extract_text_layout_golden(scotus):
    golden = open(
        "/root/reference/tests/comparisons/scotus-transcript-p1.txt"
    ).read().strip("\n")
    assert scotus.pages[0].extract_text(layout=True) == golden


def test_extract_text_layout_cropped_golden(scotus):
    # reference test_utils.py:375-384
    golden = open(
        "/root/reference/tests/comparisons/scotus-transcript-p1-cropped.txt"
    ).read().strip("\n")
    p = scotus.pages[0]
    cropped = p.crop((90, 70, p.width, 300))
    # defaults come from the cropped page's bbox, like the reference
    assert cropped.extract_text(layout=True) == golden


def test_extract_text_layout_width_chars(scotus):
    # reference test_utils.py:386-393
    p = scotus.pages[0]
    text = p.extract_text(layout=True, layout_width_chars=75)
    assert all(len(line) == 75 for line in text.splitlines())


def test_extract_words_and_search(scotus):
    p = scotus.pages[0]
    words = p.extract_words()
    assert any(w["text"] == "Official" for w in words)
    hits = p.search(r"Official")
    assert hits and hits[0]["text"] == "Official"
    lines = p.extract_text_lines()
    assert any("Official" in ln["text"] for ln in lines)


def test_warn_explicit_table(warn):
    # reference test_ca_warn_report.py:42-77
    from pdfplumber_spark.kernel.cluster import cluster_list

    p2_rects = warn.pages[1].rects
    clusters = cluster_list([r["x0"] for r in p2_rects], tolerance=3)
    v_lines = [c[0] for c in clusters]
    data = warn.pages[0].extract_table(
        {"vertical_strategy": "explicit", "explicit_vertical_lines": v_lines}
    )

    def fix(row):
        return [(x or "").replace(" ", "") for x in row[:3]] + row[3:]

    assert fix(data[0]) == [
        "NoticeDate", "Effective", "Received",
        "Company", "City", "No. Of", "Layoff/Closure",
    ]
    assert fix(data[1]) == [
        "06/22/2015", "03/25/2016", "07/01/2015",
        "Maxim Integrated Product", "San Jose", "150", "Closure Permanent",
    ]


def test_warn_edges_and_objects(warn):
    p0 = warn.pages[0]
    assert len(p0.edges) == 364
    assert len(p0.chars)
    assert len(p0.rects)
    assert len(p0.images)  # reference test_objects requires images too


def test_nics_filter(scotus):
    with pdfplumber.open(NICS) as pdf:
        page = pdf.pages[0]

        def test(obj):
            if obj["object_type"] == "char":
                return obj["size"] >= 15
            return True

        filtered = page.filter(test)
        assert filtered.extract_text() == (
            "NICS Firearm Background Checks\nNovember - 2015"
        )


def test_nics_text_only_table():
    # reference test_nics_report.py:104-116
    with pdfplumber.open(NICS) as pdf:
        p = pdf.pages[0]
        cropped = p.crop((0, 80, p.width, 475))
        table = cropped.extract_table(
            dict(horizontal_strategy="text", vertical_strategy="text")
        )
        assert table[0][0] == "Alabama"
        assert table[0][22] == "71,137"
        assert table[-1][0] == "Wyoming"
        assert table[-1][22] == "5,017"


def test_dedupe_chars_api():
    from pdfplumber_spark.kernel.pdfgen import make_pdf

    pdf_bytes = make_pdf(
        [
            {
                "width": 300, "height": 300,
                "texts": [
                    {"x": 20, "top": 20, "size": 12, "text": "Bold text"},
                    {"x": 20.4, "top": 20, "size": 12, "text": "Bold text"},
                ],
            }
        ]
    )
    with pdfplumber.open(pdf_bytes) as pdf:
        p = pdf.pages[0]
        assert p.extract_text() != "Bold text"  # doubled chars garble it
        assert p.dedupe_chars().extract_text() == "Bold text"


def test_within_outside_bbox():
    from pdfplumber_spark.kernel.pdfgen import make_pdf

    pdf_bytes = make_pdf(
        [
            {
                "width": 300, "height": 300,
                "texts": [
                    {"x": 20, "top": 20, "size": 10, "text": "inside"},
                    {"x": 20, "top": 200, "size": 10, "text": "outside"},
                ],
            }
        ]
    )
    with pdfplumber.open(pdf_bytes) as pdf:
        p = pdf.pages[0]
        assert p.within_bbox((0, 0, 300, 100)).extract_text() == "inside"
        assert p.outside_bbox((0, 0, 300, 100)).extract_text() == "outside"
        with pytest.raises(ValueError):
            p.crop((100, 100, 50, 50))


def test_hyperlinks_api():
    from pdfplumber_spark.kernel.pdfgen import make_pdf

    pdf_bytes = make_pdf(
        [
            {
                "width": 300, "height": 300,
                "texts": [{"x": 20, "top": 20, "size": 10, "text": "link"}],
                "links": [
                    {"x0": 20, "top": 18, "x1": 60, "bottom": 32,
                     "uri": "https://example.com"}
                ],
            }
        ]
    )
    with pdfplumber.open(pdf_bytes) as pdf:
        links = pdf.pages[0].hyperlinks
        assert links[0]["uri"] == "https://example.com"


def test_relative_and_strict_crop(scotus):
    # CroppedPage relative offsets + test_proposed_bbox (page.py:629-661)
    p = scotus.pages[0]
    cropped = p.crop((90, 70, p.width, 300))
    rel = cropped.crop((0, 0, 100, 100), relative=True)
    assert rel.bbox == (90.0, 70.0, 190.0, 170.0)
    with pytest.raises(ValueError, match="area of zero"):
        p.crop((0, 0, 1, 0))
    with pytest.raises(ValueError, match="entirely outside"):
        p.crop((-700, 0, -600, 10))
    with pytest.raises(ValueError, match="not fully within"):
        p.crop((0, 0, p.width + 100, 100))


def test_basics_ports():
    """Reference tests/test_basics.py expectations (verbatim values)."""
    P = "/root/reference/tests/pdfs"
    with pdfplumber.open(f"{P}/nics-background-checks-2015-11.pdf") as pdf:
        assert isinstance(pdf.metadata["Producer"], str)
        assert len(pdf.pages) == 1
        assert pdf.pages[0].page_number == 1
        assert str(pdf.pages[0]) == "<Page:1>"
        # test_rotation: /Rotate 90 landscape
        assert pdf.pages[0].width == 1008
        assert pdf.pages[0].height == 612
        # test_colors / test_text_colors
        assert tuple(pdf.pages[0].rects[0]["non_stroking_color"]) == (0.8, 1, 1)
        assert tuple(pdf.pages[0].chars[3358]["non_stroking_color"]) == (1, 0, 0)
    with pdfplumber.open(f"{P}/pdffill-demo.pdf") as pdf2:
        # test_annots + test_objects
        assert len(pdf2.annots)
        assert len(pdf2.hyperlinks) == 17
        assert pdf2.hyperlinks[0]["uri"] == "http://www.pdfill.com/pdf_drawing.html"
        assert sum(len(p.curves) for p in pdf2.pages) == 125
    with pdfplumber.open(f"{P}/annotations.pdf") as pa:
        assert len(pa.annots)


def test_basics_custom_laparams_reading_order():
    # reference test_basics.py:167-172 (issue-168): with laparams, page
    # chars rebuild in reading order from the textbox tree
    P = "/root/reference/tests/pdfs"
    with pdfplumber.open(
        f"{P}/cupertino_usd_4-6-16.pdf", laparams=dict(line_margin=0.2)
    ) as pdf:
        assert round(pdf.pages[0].chars[0]["top"], 3) == 66.384


def test_search_layout_honours_word_settings():
    """Both textmap modes read the word settings (reference get_textmap
    passes them to to_textmap): with expand_ligatures=False the one-char
    ligature stays unexpanded in the layout textmap as in the plain one."""
    from pdfplumber_spark.kernel.pdfgen import make_pdf

    pdf_bytes = make_pdf(
        [{"width": 300, "height": 200,
          "texts": [{"x": 20, "top": 20, "size": 12, "text": "a ﬁne day"}]}]
    )
    with pdfplumber.open(pdf_bytes) as pdf:
        p = pdf.pages[0]
        for layout in (False, True):
            assert [m["text"] for m in p.search("fine", layout=layout)] == ["fine"]
            assert p.search("fine", layout=layout, expand_ligatures=False) == []
            hits = p.search("ﬁne", layout=layout, expand_ligatures=False)
            assert [m["text"] for m in hits] == ["ﬁne"]
