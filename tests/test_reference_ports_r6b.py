"""Reference-suite ports, round 6 part 2: the public ``utils`` surface
(``tests/test_utils.py``), remaining ``test_convert.py`` and
``test_basics.py`` cases, and issue-386.  Exact pinned outputs wherever the
reference pins them."""

import json

import pandas as pd
import pytest

import pdfplumber_spark.api as api
from pdfplumber_spark import utils
from reforacle import REFERENCE

PDFS = f"{REFERENCE}/tests/pdfs"
COMP = f"{REFERENCE}/tests/comparisons"


# --- clustering / generic (test_utils.py:34-48, 651-670) --------------------

def test_cluster_list():
    a = [1, 2, 3, 4]
    assert utils.cluster_list(a) == [[x] for x in a]
    assert utils.cluster_list(a, tolerance=1) == [a]
    assert utils.cluster_list([1, 2, 5, 6], tolerance=1) == [[1, 2], [5, 6]]


def test_cluster_objects():
    a = ["a", "ab", "abc", "b"]
    assert utils.cluster_objects(a, len, 0) == [["a", "b"], ["ab"], ["abc"]]
    b = [{"x": 1, 7: "a"}, {"x": 1, 7: "b"}, {"x": 2, 7: "b"},
         {"x": 2, 7: "b"}]
    assert utils.cluster_objects(b, "x", 0) == [[b[0], b[1]], [b[2], b[3]]]
    assert utils.cluster_objects(b, 7, 0) == [[b[0]], [b[1], b[2], b[3]]]


def test_to_list():
    objs = [
        {"x0": 0, "top": 0, "x1": 20, "bottom": 20},
        {"x0": 10, "top": 10, "x1": 15, "bottom": 15},
    ]
    assert utils.to_list(objs) == objs
    assert utils.to_list(iter(objs)) == objs
    assert utils.to_list(tuple(objs)) == objs
    assert utils.to_list(o for o in objs) == objs
    assert utils.to_list(pd.DataFrame(objs)) == objs


# --- geometry (test_utils.py:484-650) ---------------------------------------

def test_merge_bboxes():
    bboxes = [(0, 10, 20, 20), (10, 5, 10, 30)]
    assert utils.merge_bboxes(bboxes) == (0, 5, 20, 30)
    assert utils.merge_bboxes(iter(bboxes)) == (0, 5, 20, 30)


_GEO_OBJ = {
    "x0": 5, "x1": 10, "top": 20, "bottom": 30, "width": 5, "height": 10,
    "doctop": 120, "y0": 40, "y1": 50,
}


def test_resize_object():
    obj = dict(_GEO_OBJ)
    assert utils.resize_object(obj, "x0", 0) == {
        "x0": 0, "x1": 10, "top": 20, "doctop": 120, "bottom": 30,
        "width": 10, "height": 10, "y0": 40, "y1": 50}
    assert utils.resize_object(obj, "x1", 50) == {
        "x0": 5, "x1": 50, "top": 20, "doctop": 120, "bottom": 30,
        "width": 45, "height": 10, "y0": 40, "y1": 50}
    assert utils.resize_object(obj, "top", 0) == {
        "x0": 5, "x1": 10, "top": 0, "doctop": 100, "bottom": 30,
        "height": 30, "width": 5, "y0": 40, "y1": 70}
    assert utils.resize_object(obj, "bottom", 40) == {
        "x0": 5, "x1": 10, "top": 20, "doctop": 120, "bottom": 40,
        "height": 20, "width": 5, "y0": 30, "y1": 50}


def test_move_object():
    a = dict(_GEO_OBJ)
    b = dict(a, x0=15, x1=20)
    assert utils.move_object(a, "h", 10) == b


def test_snap_objects():
    a = dict(_GEO_OBJ)
    b = dict(a, x0=6, x1=11)
    c = dict(a, x0=7, x1=12)
    a_new, b_new, c_new = utils.snap_objects([a, b, c], "x0", 1)
    assert a_new == b_new == c_new
    a_new, b_new, c_new = utils.snap_objects(iter([a, b, c]), "x0", 1)
    assert a_new == b_new == c_new


def test_filter_edges_invalid_orientation():
    with pytest.raises(ValueError):
        utils.filter_edges([], "x")


def test_obj_to_edges_dispatch():
    line = {"object_type": "line", "x0": 0, "x1": 5, "top": 1, "bottom": 1,
            "width": 5, "height": 0}
    (e,) = utils.obj_to_edges(line)
    assert e["orientation"] == "h"
    rect = {"object_type": "rect", "x0": 0, "x1": 4, "top": 0, "bottom": 3,
            "width": 4, "height": 3, "doctop": 0, "y0": 10, "y1": 13}
    edges = utils.obj_to_edges(rect)
    assert [e["orientation"] for e in edges] == ["h", "h", "v", "v"]
    assert edges[0]["bottom"] == rect["top"] and edges[0]["height"] == 0
    assert edges[1]["top"] == rect["top"] + rect["height"]
    curve = {"object_type": "curve", "pts": [(0, 0), (0, 4), (3, 4)],
             "top": 0, "doctop": 50}
    ce = utils.obj_to_edges(curve)
    assert [e["orientation"] for e in ce] == ["v", "h"]
    assert ce[0]["doctop"] == 50
    assert utils.obj_to_edges(ce[0]) == [ce[0]]  # *_edge passes through


def test_bbox_helpers():
    assert utils.get_bbox_overlap((0, 0, 2, 2), (3, 3, 4, 4)) is None
    assert utils.get_bbox_overlap((0, 0, 2, 2), (1, 1, 4, 4)) == (1, 1, 2, 2)
    assert utils.calculate_area((0, 0, 2, 3)) == 6
    with pytest.raises(ValueError):
        utils.calculate_area((2, 0, 0, 3))
    objs = [{"x0": 1, "top": 2, "x1": 5, "bottom": 6},
            {"x0": 0, "top": 4, "x1": 3, "bottom": 9}]
    assert utils.objects_to_bbox(objs) == (0, 2, 5, 9)
    assert utils.objects_to_rect(objs) == {"x0": 0, "top": 2, "x1": 5,
                                           "bottom": 9}
    clipped = utils.clip_obj(
        {"x0": 0, "top": 0, "x1": 10, "bottom": 10, "width": 10,
         "height": 10, "doctop": 100}, (5, 5, 20, 20))
    assert (clipped["x0"], clipped["top"], clipped["doctop"]) == (5, 5, 105)
    assert utils.clip_obj({"x0": 0, "top": 0, "x1": 1, "bottom": 1},
                          (5, 5, 6, 6)) is None


# --- pdfinternals (test_utils.py:50-66) -------------------------------------

def test_resolve():
    pdf = api.open(f"{PDFS}/pdffill-demo.pdf")
    annot = pdf.annots[0]
    annot_ad0 = utils.resolve(annot["data"]["A"]["D"][0])
    assert annot_ad0["MediaBox"] == [0, 0, 612, 792]
    assert utils.resolve(1) == 1


def test_resolve_all():
    """Adapted: our PDF.doc is the from-scratch PDFDocument (trailer dict
    instead of pdfminer's xrefs list); resolve_all takes the doc."""
    pdf = api.open(f"{PDFS}/pdffill-demo.pdf")
    info_ref = pdf.doc.trailer["Info"]
    a = [{"info": info_ref}]
    a_res = utils.resolve_all(a, pdf.doc)
    assert a_res[0]["info"]["Producer"] == b"PlotSoft PDFill 13.0"
    dec = utils.resolve_and_decode(a, pdf.doc)
    assert dec[0]["info"]["Producer"] == pdf.metadata["Producer"]


def test_decode_psl_list():
    from pdfplumber_spark.kernel.pdfparse import Name

    assert utils.decode_psl_list([Name("test"), "test_2"]) == [
        "test", "test_2"]


def test_decode_text_and_dict_type():
    assert utils.decode_text(b"\xfe\xff\x00h\x00i") == "hi"
    assert utils.decode_text(b"plain") == "plain"
    assert utils.get_dict_type({"Type": "Page"}) == "Page"
    assert utils.get_dict_type([1]) is None


# --- text assembly (test_utils.py:278-398, 472-482) -------------------------

PDFFILL_GOAL = "\n".join([
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
    "Here are the tools to change line width, style, arrow style and colors",
])


def test_extract_text_pinned_lines():
    """test_utils.py:327-352 — exact 14-line pin + simple + empty crop."""
    pdf = api.open(f"{PDFS}/pdffill-demo.pdf")
    page = pdf.pages[0]
    assert page.extract_text() == PDFFILL_GOAL
    assert page.extract_text_simple() == PDFFILL_GOAL
    assert page.crop((0, 0, 1, 1)).extract_text() == ""


def test_extract_text_blank():
    assert utils.extract_text([]) == ""


def test_utils_extract_text_layout_matches_page():
    """test_utils.py:357-373 — utils.extract_text(layout=True) must equal
    Page.extract_text(layout=True) and the scotus golden byte-for-byte."""
    target = open(f"{COMP}/scotus-transcript-p1.txt").read().strip("\n")
    page = api.open(f"{PDFS}/scotus-transcript-p1.pdf").pages[0]
    text = page.extract_text(layout=True)
    utils_text = utils.extract_text(
        page.chars, layout=True, layout_width=page.width,
        layout_height=page.height, layout_bbox=page.bbox)
    assert text == utils_text
    assert text == target


def test_extract_text_layout_widths():
    """test_utils.py:386-394 — fixed char-grid widths + conflict errors."""
    p = api.open(f"{PDFS}/scotus-transcript-p1.pdf").pages[0]
    text = p.extract_text(layout=True, layout_width_chars=75)
    assert all(len(line) == 75 for line in text.splitlines())
    with pytest.raises(ValueError):
        p.extract_text(layout=True, layout_width=300, layout_width_chars=50)
    with pytest.raises(ValueError):
        p.extract_text(layout=True, layout_height=300,
                       layout_height_chars=50)


def test_extract_text_nochars():
    page = api.open(f"{PDFS}/pdffill-demo.pdf").pages[0]
    charless = page.filter(lambda df: df["object_type"] != "char")
    assert charless.extract_text() == ""
    assert charless.extract_text(layout=True) == ""


def test_handle_empty_and_whitespace_search_results():
    """test_utils.py:472-482 (discussion 853) — degenerate patterns return
    empty result sets, never raise."""
    page = api.open(f"{PDFS}/scotus-transcript-p1.pdf").pages[0]
    for regex in (True, False):
        assert page.search("\n", regex=regex) == []
    assert page.search("(sdfsd)?") == []
    assert page.search("") == []


def test_extract_text_punctuation():
    """test_utils.py:278-285 — split_at_punctuation in layout mode."""
    pdf = api.open(f"{PDFS}/test-punkt.pdf")
    text = pdf.pages[0].extract_text(layout=True, split_at_punctuation=True)
    assert "https " in text


def test_issue_386_pure_iterator():
    """test_issues.py:190-197 — extract_text over a generator of chars."""
    pdf = api.open(f"{PDFS}/nics-background-checks-2015-11.pdf")
    chars = (char for char in pdf.chars)
    assert utils.extract_text(chars)


# --- basics / convert leftovers ---------------------------------------------

def test_text_colors():
    """test_basics.py:163-165 — char 3358 of the NICS report is pure red
    (also pins rect 0 of pdffill-demo, test_basics.py:159-161)."""
    page = api.open(f"{PDFS}/nics-background-checks-2015-11.pdf").pages[0]
    assert page.chars[3358]["non_stroking_color"] == (1, 0, 0)
    assert page.rects[0]["non_stroking_color"] == (0.8, 1, 1)


def test_load_with_custom_laparams():
    """test_basics.py:167-172 (issue-168) — laparams change nothing about
    raw char geometry."""
    pdf = api.open(f"{PDFS}/cupertino_usd_4-6-16.pdf",
                   laparams=dict(line_margin=0.2))
    assert round(pdf.pages[0].chars[0]["top"], 3) == 66.384


def test_convert_single_pages():
    """test_convert.py:166-168."""
    pdf = api.open(f"{PDFS}/pdffill-demo.pdf")
    c = json.loads(pdf.pages[0].to_json())
    assert c["rects"][0]["bottom"] == pdf.pages[0].rects[0]["bottom"]


def test_convert_additional_attr_types():
    """test_convert.py:170-174 — image records serialize to JSON."""
    pdf = api.open(f"{PDFS}/issue-67-example.pdf", pages=[1])
    c = json.loads(pdf.to_json())
    assert len(c["pages"][0]["images"])


def test_utils_dedupe_and_collate():
    """utils-level dedupe_chars/collate_line round-trip on real chars."""
    page = api.open(f"{PDFS}/pdffill-demo.pdf").pages[0]
    chars = page.chars
    deduped = utils.dedupe_chars(chars)
    assert 0 < len(deduped) <= len(chars)
    line_chars = [c for c in chars
                  if abs(c["top"] - chars[0]["top"]) < 3]
    line = utils.collate_line(line_chars)
    assert line.strip()
    words = utils.extract_words(chars)
    assert words and {"text", "x0", "top"} <= set(words[0])
