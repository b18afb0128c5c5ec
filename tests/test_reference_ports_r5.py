"""Round-5 ports of reference test_utils.py cases onto the api facade —
each is the reference's own fixture + its exact expected output
(the reference checkout's tests/test_utils.py line refs per test). These are the
hardest parity anchors available: real-world PDFs with pinned strings."""

import re
from itertools import groupby
from operator import itemgetter

import pytest

import pdfplumber_spark.api as api
from reforacle import REFERENCE

PDFS = f"{REFERENCE}/tests/pdfs"


def test_x_tolerance_ratio():
    """test_utils.py:67-76 (issue-987)."""
    page = api.open(f"{PDFS}/issue-987-test.pdf").pages[0]
    assert page.extract_text() == "Big Te xt\nSmall Text"
    assert page.extract_text(x_tolerance=4) == "Big Te xt\nSmallText"
    assert page.extract_text(x_tolerance_ratio=0.15) == "Big Text\nSmall Text"
    words = page.extract_words(x_tolerance_ratio=0.15)
    assert "|".join(w["text"] for w in words) == "Big|Text|Small|Text"


def test_extract_words_directions():
    """test_utils.py:78-100 (issue-192)."""
    p = api.open(f"{PDFS}/issue-192-example.pdf").pages[0]
    words = p.extract_words(vertical_ttb=False)
    words_attr = p.extract_words(vertical_ttb=False, extra_attrs=["size"])
    words_w_spaces = p.extract_words(vertical_ttb=False,
                                     keep_blank_chars=True)
    words_rtl = p.extract_words(horizontal_ltr=False)

    assert words[0]["text"] == "Agaaaaa:"
    assert words[0]["direction"] == "ltr"
    assert "size" not in words[0]
    assert round(words_attr[0]["size"], 2) == 9.96
    assert words_w_spaces[0]["text"] == "Agaaaaa: AAAA"
    vertical = [w for w in words if w["upright"] == 0]
    assert vertical[0]["text"] == "Aaaaaabag8"
    assert vertical[0]["direction"] == "btt"
    assert words_rtl[1]["text"] == "baaabaaA/AAA"
    assert words_rtl[1]["direction"] == "rtl"


def test_text_rotation_all_eight():
    """test_utils.py:102-133 (issue-848 — parseable since the round-5
    lexer fix): each rotated page re-reads to the page-0 text under its
    rotation's direction parameters."""
    rotations = [
        ("ltr", "ttb"), ("rtl", "ttb"), ("rtl", "btt"), ("ltr", "btt"),
        ("ttb", "rtl"), ("btt", "rtl"), ("btt", "ltr"), ("ttb", "ltr"),
    ]
    pdf = api.open(f"{PDFS}/issue-848.pdf")
    expected = pdf.pages[0].extract_text()
    for i, (char_dir, line_dir) in enumerate(rotations):
        if i == 0:
            continue
        p = pdf.pages[i].filter(lambda obj: obj.get("text") != " ")
        out = p.extract_text(
            x_tolerance=2, y_tolerance=2,
            char_dir=char_dir, line_dir=line_dir,
            char_dir_rotated=char_dir, line_dir_rotated=line_dir,
            char_dir_render="ltr", line_dir_render="ttb",
        )
        assert out == expected, f"rotation index {i}"


def test_text_render_directions():
    """test_utils.py:172-190 (line-char-render-example): all 8 render
    direction combinations, exact strings."""
    targets = {
        ("ttb", "ltr"): "first line\nsecond line\nthird line",
        ("ttb", "rtl"): "enil tsrif\nenil dnoces\nenil driht",
        ("btt", "ltr"): "third line\nsecond line\nfirst line",
        ("btt", "rtl"): "enil driht\nenil dnoces\nenil tsrif",
        ("ltr", "ttb"): "fst\nieh\nrci\nsor\ntnd\n d \nl l\nili\nnin\nene\n e ",
        ("ltr", "btt"): " s \nfet\nich\nroi\nsnr\ntdd\n   \nlll\niii\nnnn\neee",
        ("rtl", "ttb"): "tsf\nhei\nicr\nros\ndnt\n d \nl l\nili\nnin\nene\n e ",
        ("rtl", "btt"): " s \ntef\nhci\nior\nrns\nddt\n   \nlll\niii\nnnn\neee",
    }
    page = api.open(f"{PDFS}/line-char-render-example.pdf").pages[0]
    for (line_dir, char_dir), target in targets.items():
        text = page.extract_text(line_dir_render=line_dir,
                                 char_dir_render=char_dir)
        assert text == target, (line_dir, char_dir)


def test_invalid_directions():
    """test_utils.py:192-208."""
    page = api.open(f"{PDFS}/line-char-render-example.pdf").pages[0]
    for kwargs in (
        dict(line_dir="xxx", char_dir="ltr"),
        dict(line_dir="ttb", char_dir="a"),
        dict(line_dir="rtl", char_dir="ltr"),
        dict(line_dir="ttb", char_dir="btt"),
        dict(line_dir_rotated="ttb", char_dir="btt"),
        dict(line_dir_render="ttb", char_dir_render="btt"),
    ):
        with pytest.raises(ValueError):
            page.extract_text(**kwargs)


def test_extra_attrs():
    """test_utils.py:210-229 (extra-attrs-example), exact strings."""
    page = api.open(f"{PDFS}/extra-attrs-example.pdf").pages[0]
    assert page.extract_text() == "BlackRedArial"
    assert page.extract_text(
        extra_attrs=["non_stroking_color"]) == "Black RedArial"
    assert page.extract_text(extra_attrs=["fontname"]) == "BlackRed Arial"
    assert page.extract_text(
        extra_attrs=["non_stroking_color", "fontname"]) == "Black Red Arial"
    assert page.extract_text(
        layout=True, use_text_flow=True,
        extra_attrs=["non_stroking_color", "fontname"],
    )


def test_words_punctuation():
    """test_utils.py:231-276 (test-punkt), exact tokens per page."""
    pdf = api.open(f"{PDFS}/test-punkt.pdf")
    custom = r"!\"&'()*+,.:;<=>?@[]^`{|}~"

    w_a = pdf.pages[0].extract_words(split_at_punctuation=True)
    w_b = pdf.pages[0].extract_words(split_at_punctuation=False)
    w_c = pdf.pages[0].extract_words(split_at_punctuation=custom)
    assert w_a[0]["text"] == "https"
    assert w_b[0]["text"] == \
        "https://dell-research-harvard.github.io/HJDataset/"
    assert w_c[2]["text"] == "//dell-research-harvard"

    w_a = pdf.pages[1].extract_words(split_at_punctuation=True)
    w_b = pdf.pages[1].extract_words(split_at_punctuation=False)
    w_c = pdf.pages[1].extract_words(split_at_punctuation=custom)
    assert (len(w_a), len(w_b), len(w_c)) == (4, 2, 2)

    w_a = pdf.pages[2].extract_words(split_at_punctuation=True)
    w_b = pdf.pages[2].extract_words(split_at_punctuation=False)
    w_c = pdf.pages[2].extract_words(split_at_punctuation=custom)
    assert (w_a[1]["text"], w_b[1]["text"], w_c[1]["text"]) == ("[", "[2,", "[")

    w_a = pdf.pages[3].extract_words(split_at_punctuation=True)
    w_b = pdf.pages[3].extract_words(split_at_punctuation=False)
    w_c = pdf.pages[3].extract_words(split_at_punctuation=custom)
    assert (w_a[2]["text"], w_b[2]["text"], w_c[2]["text"]) == ("al", "al.", "al")

    text = pdf.pages[0].extract_text(layout=True, split_at_punctuation=True)
    assert "https " in text


def test_text_flow_federal_register():
    """test_utils.py:287-309: use_text_flow changes the word stream on a
    two-column federal register page, pinned target block."""
    def words_to_text(words):
        grouped = groupby(words, key=itemgetter("top"))
        return "\n".join(
            " ".join(w["text"] for w in grp) for _, grp in grouped
        )

    p0 = api.open(f"{PDFS}/federal-register-2020-17221.pdf").pages[0]
    using_flow = p0.extract_words(use_text_flow=True)
    not_using_flow = p0.extract_words()
    target_text = (
        "The FAA proposes to\n"
        "supersede Airworthiness Directive (AD)\n"
        "2018–23–51, which applies to all The\n"
        "Boeing Company Model 737–8 and 737–\n"
        "9 (737 MAX) airplanes. Since AD 2018–\n"
    )
    assert target_text in words_to_text(using_flow)
    assert target_text not in words_to_text(not_using_flow)


def test_text_flow_overlapping():
    """test_utils.py:311-325 (issue-912)."""
    p0 = api.open(f"{PDFS}/issue-912.pdf").pages[0]
    using_flow = p0.extract_text(use_text_flow=True, layout=True,
                                 x_tolerance=1)
    not_using_flow = p0.extract_text(layout=True, x_tolerance=1)
    assert re.search("2015 RICE PAYMENT 26406576 0 1207631 Cr", using_flow)
    assert re.search("124644,06155766", using_flow) is None
    assert re.search("124644,06155766", not_using_flow)
    assert re.search(
        "2015 RICE PAYMENT 26406576 0 1207631 Cr", not_using_flow) is None


def test_pdffill_extract_text_exact():
    """test_utils.py:327-352: exact 14 lines + simple + empty-crop."""
    pdf = api.open(f"{PDFS}/pdffill-demo.pdf")
    goal = "\n".join([
        "First Page Previous Page Next Page Last Page",
        "Print",
        "PDFill: PDF Drawing",
        "You can open a PDF or create a blank PDF by PDFill.",
        "Online Help",
        "Here are the PDF drawings created by PDFill",
        "Please save into a new PDF to see the effect!",
        "Goto Page 2: Line Tool",
        "Goto Page 3: Arrow Tool",
        "Goto Page 4: Tool for Rectangle, Square and Rounded Corner",
        "Goto Page 5: Tool for Circle, Ellipse, Arc, Pie",
        "Goto Page 6: Tool for Basic Shapes",
        "Goto Page 7: Tool for Curves",
        "Here are the tools to change line width, style, arrow style and"
        " colors",
    ])
    assert pdf.pages[0].extract_text() == goal
    assert pdf.pages[0].extract_text_simple() == goal
    assert pdf.pages[0].crop((0, 0, 1, 1)).extract_text() == ""


def test_search_reference_semantics():
    """test_utils.py:400-482: compiled/uncompiled/string search, the
    layout switch, groups-as-tuples, and empty/whitespace safety."""
    sc = api.open(f"{PDFS}/scotus-transcript-p1.pdf").pages[0]
    r = sc.search(re.compile(r"supreme\s+(\w+)", re.I))
    assert r[0]["text"] == "SUPREME COURT" and r[0]["groups"] == ("COURT",)
    assert r[1]["text"] == "Supreme Court" and r[1]["groups"] == ("Court",)
    with pytest.raises(ValueError):
        sc.search(re.compile(r"x"), regex=False)
    with pytest.raises(ValueError):
        sc.search(re.compile(r"x"), case=False)
    r = sc.search(r"supreme\s+(\w+)", case=False)
    assert r[0]["text"] == "SUPREME COURT" and r[0]["groups"] == ("COURT",)
    r = sc.search("SUPREME COURT", regex=False)
    assert r[0]["text"] == "SUPREME COURT" and r[0]["groups"] == ()
    assert len(sc.search("supreme court", regex=False)) == 0
    assert len(sc.search("supreme court", regex=False, case=False)) == 2
    assert len(sc.search("supreme court", regex=True, case=False)) == 2
    assert len(sc.search(r"supreme\s+(\w+)", regex=False)) == 0
    # the layout switch: plain textmap single-spaces the gap
    assert len(sc.search(r"10 Tuesday", layout=False)) == 1
    assert len(sc.search(r"10 Tuesday", layout=True)) == 0
    for regex in (True, False):
        assert len(sc.search("\n", regex=regex)) == 0
    assert len(sc.search("(sdfsd)?")) == 0
    assert len(sc.search("")) == 0


def test_extract_text_lines_reference_semantics():
    """test_utils.py:448-470: plain default with chars records, layout /
    strip / return_chars variants — exact strings."""
    sc = api.open(f"{PDFS}/scotus-transcript-p1.pdf").pages[0]
    lines = sc.extract_text_lines()
    assert len(lines) == 28
    assert "chars" in lines[0]
    assert lines[0]["text"] == "Official - Subject to Final Review"
    assert lines[10]["text"] == "10 Tuesday, January 13, 2009"
    alt = sc.extract_text_lines(layout=True, strip=False, return_chars=False)
    assert "chars" not in alt[0]
    assert alt[0]["text"] == (
        "                                   "
        "Official - Subject to Final Review               "
    )
    assert alt[10]["text"] == (
        "            10                          "
        "Tuesday, January 13, 2009                   "
    )
    assert sc.extract_text_lines(layout=True)[10]["text"] == \
        "10                          Tuesday, January 13, 2009"


# --- test_basics.py ports ---------------------------------------------------

def test_basics_fixture_pins():
    """test_basics.py:29-60: metadata / page count / repr / hyperlinks."""
    pdf = api.open(f"{PDFS}/nics-background-checks-2015-11.pdf")
    pdf2 = api.open(f"{PDFS}/pdffill-demo.pdf")
    assert isinstance(pdf.metadata["Producer"], str)
    assert len(pdf.pages) == 1
    assert pdf.pages[0].page_number == 1
    assert str(pdf.pages[0]) == "<Page:1>"
    assert len(pdf2.hyperlinks) == 17
    assert pdf2.hyperlinks[0]["uri"] == \
        "http://www.pdfill.com/pdf_drawing.html"


def test_basics_crop_filter_outside():
    """test_basics.py:62-120: crop/within/outside/relative semantics with
    the reference's exact expectations."""
    page = api.open(f"{PDFS}/nics-background-checks-2015-11.pdf").pages[0]
    bbox = (0, 0, 200, 200)
    cropped = page.crop(bbox)
    assert cropped.width == 200
    assert len(cropped.rects) > 0
    assert len(cropped.chars) < len(page.chars)
    within = page.within_bbox(bbox)
    assert 0 < len(within.chars) < len(cropped.chars)
    filtered = cropped.filter(lambda o: o["object_type"] == "char")
    assert len(filtered.rects) == 0

    outside = page.outside_bbox(page.find_tables()[0].bbox)
    assert outside.extract_text() == "Page 1 of 205"
    assert outside.bbox == page.bbox

    rc = page.crop((10, 10, 40, 40)).crop((10, 15, 20, 25), relative=True)
    assert rc.bbox == (20, 25, 30, 35)
    rw = page.crop((10, 10, 40, 40)).within_bbox((10, 15, 20, 25),
                                                 relative=True)
    assert rw.bbox == (20, 25, 30, 35)
    # issue-245 / issue-914 relative crops must keep objects
    bottom = page.crop((0, 0.8 * float(page.height), page.width,
                        page.height))
    bottom.crop((0, 0, 0.5 * float(bottom.width), bottom.height),
                relative=True)
    crop_right = page.crop((page.width / 2, 0, page.width, page.height))
    again = crop_right.crop((0, 0, crop_right.width / 2, page.height),
                            relative=True)
    assert len(again.chars)


def test_basics_invalid_crops():
    """test_basics.py:113-141."""
    page = api.open(f"{PDFS}/nics-background-checks-2015-11.pdf").pages[0]
    for bad in [(0, 0, 0, 0), (0, 0, 10000, 10), (-10, 0, 10, 10),
                (100, 0, 0, 100), (0, 100, 100, 0)]:
        with pytest.raises(ValueError):
            page.crop(bad)
    bottom = page.crop((0, 0.8 * float(page.height), page.width,
                        page.height))
    with pytest.raises(ValueError):
        bottom.crop((0, 0, 0.5 * float(bottom.width), bottom.height))
    with pytest.raises(ValueError):
        page.crop((0, 0, page.width + 10, page.height + 10))
    page.crop((0, 0, page.width + 10, page.height + 10), strict=False)


def test_basics_rotation_password_colors():
    """test_basics.py:143-165: rotated dims, password open, exact
    colors (tuples, like the reference)."""
    page = api.open(f"{PDFS}/nics-background-checks-2015-11.pdf").pages[0]
    assert (page.width, page.height) == (1008, 612)
    rot = api.open(
        f"{PDFS}/nics-background-checks-2015-11-rotated.pdf").pages[0]
    assert (rot.width, rot.height) == (612, 1008)
    pw = api.open(f"{PDFS}/password-example.pdf", password="test")
    assert len(pw.pages[0].chars) > 0
    assert page.rects[0]["non_stroking_color"] == (0.8, 1, 1)
    assert page.chars[3358]["non_stroking_color"] == (1, 0, 0)


# --- test_dedupe_chars.py + test_ctm.py + test_list_metadata.py ports -------

def test_dedupe_chars_reference_pins():
    """test_dedupe_chars.py:23-73 — exact CJK doubled/deduped strings,
    word geometry to 3 decimals, and the y_tolerance=6 case."""
    page = api.open(f"{PDFS}/issue-71-duplicate-chars.pdf").pages[0]
    doubled = "微微软软 培培训训课课程程：： 名名模模意意义义一一些些有有意意义义一一些些"
    deduped = "微软 培训课程： 名模意义一些有意义一些"
    assert page.extract_text().split("\n")[-1] == doubled
    assert page.dedupe_chars().extract_text().split("\n")[-1] == deduped
    assert page.extract_table()[1][1].split("\n")[-1] == doubled
    assert page.dedupe_chars().extract_table()[1][1].split("\n")[-1] == deduped

    w1 = page.extract_words()[-1]
    w2 = page.dedupe_chars().extract_words()[-1]
    assert round(w1["x0"], 3) == 440.143 and round(w1["x1"], 3) == 534.992
    assert round(w2["x0"], 3) == 440.143 and round(w2["x1"], 3) == 534.719
    assert round(w1["top"], 3) in (791.849, 794.357)
    assert round(w1["bottom"], 3) == 802.961
    assert w1["upright"] == 1 and w2["upright"] == 1

    page2 = api.open(f"{PDFS}/issue-71-duplicate-chars-2.pdf").pages[0]
    assert page2.dedupe_chars().extract_text(
        y_tolerance=6).splitlines()[4] == "UE 8. Circulation - Métabolismes"


def test_ctm_reference_pins():
    """test_ctm.py:12-38 — rotated-char matrices on pdffill-demo p4."""
    from pdfplumber_spark.api import CTM

    p3 = api.open(f"{PDFS}/pdffill-demo.pdf").pages[3]
    left = CTM(*p3.chars[97]["matrix"])
    right = CTM(*p3.chars[105]["matrix"])
    assert round(left.translation_x) == 126
    assert round(right.translation_x) == 372
    assert round(left.translation_y) == 519
    assert round(right.translation_y) == 562
    assert left.skew_x == 45 and right.skew_x == -45
    assert left.skew_y == 45 and right.skew_y == -45
    assert round(left.scale_x, 3) == 1 and round(right.scale_x, 3) == 1
    assert round(left.scale_y, 3) == 1 and round(right.scale_y, 3) == 1


def test_list_metadata_loads():
    """test_list_metadata.py: metadata with list values must load."""
    pdf = api.open(f"{PDFS}/cupertino_usd_4-6-16.pdf")
    assert len(pdf.metadata)


# --- test_table.py ports ----------------------------------------------------

def test_table_lines_strict_exact_row():
    """test_table.py:54-74 (issue-140)."""
    t = api.open(f"{PDFS}/issue-140-example.pdf").pages[0].extract_table(
        {"vertical_strategy": "lines_strict",
         "horizontal_strategy": "lines_strict"})
    assert t[-1] == ["", "0085648100300", "CENTRAL KMA",
                     "LILYS 55% DARK CHOC BAR", "415", "$ 0.61",
                     "$ 253.15", "0.0000", ""]


def test_table_text_tolerance_exact_rows():
    """test_table.py:91-134 (senate-expenditures): text_x_tolerance
    changes the final row exactly as the reference pins."""
    cropped = api.open(f"{PDFS}/senate-expenditures.pdf").pages[0].crop(
        (70.332, 130.986, 420, 509.106))
    base = {"horizontal_strategy": "text", "vertical_strategy": "text",
            "min_words_vertical": 20}
    t = cropped.extract_table(base)
    t_tol = cropped.extract_table({**base, "text_x_tolerance": 1})
    t_tables = cropped.extract_tables({**base, "text_x_tolerance": 1})[0]
    assert t[-1] == ["DHAW20190070", "09/09/2019", "CITIBANK-TRAVELCBACARD",
                     "08/12/2019", "08/14/2019"]
    assert t_tol[-1] == ["DHAW20190070", "09/09/2019",
                         "CITIBANK - TRAVEL CBA CARD", "08/12/2019",
                         "08/14/2019"]
    assert t_tol[-1] == t_tables[-1]


def test_table_text_layout_cell():
    """test_table.py:137-144 (issue-53): per-cell layout render."""
    t = api.open(f"{PDFS}/issue-53-example.pdf").pages[0].extract_table(
        {"text_layout": True})
    assert t[3][0] == "   FY2013   \n   FY2014   "


def test_table_order_issue_336():
    tabs = api.open(f"{PDFS}/issue-336-example.pdf").pages[0].extract_tables()
    assert [len(t) for t in tabs] == [8, 11, 2]


def test_table_mixed_strategy_issue_466():
    tabs = api.open(f"{PDFS}/issue-466-example.pdf").pages[0].extract_tables(
        {"vertical_strategy": "lines", "horizontal_strategy": "text",
         "snap_tolerance": 8, "intersection_tolerance": 4})
    for t in tabs:
        assert len(t) == 4 and len(t[0]) == 3
        for cell in t[3]:
            assert "last" in cell


def test_table_full_settings_discussion_539():
    page = api.open(f"{PDFS}/nics-background-checks-2015-11.pdf").pages[0]
    ts = {"vertical_strategy": "lines", "horizontal_strategy": "lines",
          "explicit_vertical_lines": [], "explicit_horizontal_lines": [],
          "snap_tolerance": 3, "join_tolerance": 3, "edge_min_length": 3,
          "min_words_vertical": 3, "min_words_horizontal": 1,
          "text_keep_blank_chars": False, "text_tolerance": 3,
          "intersection_tolerance": 3}
    assert page.extract_table(ts)
    assert page.extract_tables(ts)


def test_table_curves_present():
    assert len(api.open(
        f"{PDFS}/table-curves-example.pdf").pages[0].curves) == 33


def test_issue_316_nested_metadata():
    pdf = api.open(f"{PDFS}/issue-316-example.pdf")
    assert pdf.metadata["Changes"][0]["CreationDate"] == \
        "D:20061207105020Z00'00'"


def test_issue_463_utf16_annot_contents():
    pdf = api.open(f"{PDFS}/issue-463-example.pdf")
    assert pdf.pages[0].annots[0]["contents"] == "日本語"


def test_issue_982_text_flow_words_match_text():
    page = api.open(f"{PDFS}/issue-982-example.pdf").pages[0]
    text = re.sub(r"\s+", " ", page.extract_text(use_text_flow=True))
    words = " ".join(
        w["text"] for w in page.extract_words(use_text_flow=True))
    assert text[:100] == words[:100]


def test_issue_598_expand_ligatures_toggle():
    page = api.open(f"{PDFS}/issue-598-example.pdf").pages[0]
    a = page.extract_text()
    assert "fiction" in a and "ﬁction" not in a
    b = page.extract_text(expand_ligatures=False)
    assert "ﬁction" in b and "fiction" not in b
    assert page.extract_words()[53]["text"] == "fiction"
    assert page.extract_words(expand_ligatures=False)[53]["text"] == "ﬁction"


def test_issue_683_ligature_search():
    page = api.open(f"{PDFS}/issue-71-duplicate-chars-2.pdf").pages[0]
    page.search(r"\d+", regex=True)  # must not raise


def test_mcids_reference_pins():
    """test_mcids.py: per-char MCID/tag spans AND marked-content on
    line/curve objects (round-5: paths now carry the enclosing
    BDC/EMC's mcid+tag, like pdfminer)."""
    page = api.open(f"{PDFS}/mcid_example.pdf").pages[0]
    mcids = []
    for c in page.chars:
        if c.get("mcid") is not None:
            m = int(c["mcid"])
            while len(mcids) <= m:
                mcids.append("")
            if not mcids[m]:
                mcids[m] = str(c["tag"]) + ": "
            mcids[m] += c["text"]
    assert mcids == [
        "Standard: Test of figures", "", "P: 1 ligne", "P: 2 ligne",
        "P: 3 ligne", "P: 4 ligne", "P: 0", "P: 2", "P: 4", "P: 6",
        "P: 8", "P: 10", "P: 12", "P: Figure 1: Chart", "",
        "P: 1 colonne", "P: 2 colonne", "P: 3 colonne",
    ]
    assert all(x["tag"] == "Figure" for x in page.lines)
    assert all(x["tag"] == "Figure" for x in page.curves)
    assert {x["mcid"] for x in page.lines} & {1, 14}
    assert {x["mcid"] for x in page.curves} & {1, 14}


# --- test_display.py ports --------------------------------------------------

def test_display_reference_surface():
    """test_display.py:30-125 (the PIL-independent subset): draw ops,
    width/height kwargs, finder validation, crop size, copy equality,
    string colors, password, _repr_png_."""
    import io

    pdf = api.open(f"{PDFS}/nics-background-checks-2015-11.pdf")
    page = pdf.pages[0]
    im = page.to_image()
    im.reset()
    im.draw_rects(page.rects)
    im.draw_circle(page.chars[0])
    im.draw_line(page.edges[0])
    im.draw_vlines([10])
    im.draw_hlines([10])

    with pytest.raises(ValueError):
        page.to_image(resolution=72, height=100)
    assert page.to_image(width=503).original.width == 503
    assert page.to_image(height=805).original.height == 805

    im.reset()
    settings = {"horizontal_strategy": "text", "intersection_tolerance": 5}
    im.debug_tablefinder(settings)
    im.debug_tablefinder(page.debug_tablefinder(settings))
    im.debug_tablefinder(None)
    with pytest.raises(ValueError):
        im.debug_tablefinder(0)

    # bytes stream
    api.open(open(f"{PDFS}/nics-background-checks-2015-11.pdf",
                  "rb").read()).pages[0].to_image()

    assert page.crop((10, 20, 30, 50)).to_image().original.size == (20, 30)
    assert im.copy().original == im.original
    im.outline_words(stroke="blue", fill=(0, 200, 10), stroke_width=2,
                     x_tolerance=5, y_tolerance=5)
    im.outline_chars(stroke="blue", fill=(0, 200, 10), stroke_width=2)
    png = im._repr_png_()
    assert isinstance(png, bytes) and len(png) > 1000

    api.open(f"{PDFS}/password-example.pdf",
             password="test").pages[0].to_image()


def test_display_draw_curves():
    page = api.open(f"{PDFS}/table-curves-example.pdf").pages[0]
    page.to_image().draw_lines(page.curves)
