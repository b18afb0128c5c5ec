"""Reference-port sweep part 5 (round 7): the last unported reference
cases — test_convert.py CLI + json-types tests (over the new
single-doc ``pdfplumber_spark.cli``), the whole of test_repair.py,
test_structure.py::test_element_bbox, and the three remaining
test_utils.py cases (rotation layout, uncompiled-regex / plain-string
search) — with the reference's exact pinned values."""

import io
import json
import os
import re
import subprocess
import sys
import tempfile

import pytest

from pdfplumber_spark import api
from reforacle import REFERENCE

PDFS = f"{REFERENCE}/tests/pdfs"
DEMO = f"{PDFS}/pdffill-demo.pdf"
SCOTUS = f"{PDFS}/scotus-transcript-p1.pdf"

# reference test_convert.py:176-181 pinned CSV row (precision 3)
_CSV_ROW9 = (
    "char,1,45.83,58.826,656.82,674.82,117.18,117.18,135.18,12.996,"
    '18.0,12.996,,,,,,,TimesNewRomanPSMT,,,"(1, 0, 0, 1, 45.83, 660.69)"'
    ',,DeviceRGB,"(0, 0, 0)",,,,18.0,,,,,,,Y,,1,'
)


def _cli(*argv) -> bytes:
    return subprocess.run(
        [sys.executable, "-m", "pdfplumber_spark.cli", *argv],
        capture_output=True, check=True, cwd="/root/repo",
    ).stdout


@pytest.fixture(scope="module")
def demo():
    return api.open(DEMO)


# ---------------------------------------------------------------------------
# test_convert.py leftovers


def test_convert_json_all_types(demo):
    """test_convert.py:156-163."""
    c = json.loads(demo.to_json(object_types=None))
    found_types = c["pages"][0].keys()
    assert "chars" in found_types
    assert "lines" in found_types
    assert "rects" in found_types
    assert "images" in found_types
    assert "curves" in c["pages"][2].keys()


def test_convert_page_to_dict(demo):
    """test_convert.py:294-296."""
    x = demo.pages[0].to_dict(object_types=["char"])
    assert len(x["chars"]) == len(demo.pages[0].chars)


def test_cli_structure_and_structure_text(demo):
    """test_convert.py:192-203: --structure on an untagged PDF is [];
    --structure-text on scotus carries the per-MCID text (first P text
    pinned from the reference's SCOTUS_TEXT constant)."""
    res = json.loads(_cli(DEMO, "--structure"))
    assert res == []  # lol no structure (reference comment)
    tree = json.loads(_cli(SCOTUS, "--structure-text"))
    assert tree and tree[0]["type"] == "Div"
    first_p = tree[0]["children"][0]
    assert first_p["type"] == "P"
    assert first_p["page_number"] == 1
    assert first_p["mcids"] == [1]
    assert first_p["attributes"]["LineHeight"] == 25.75
    assert first_p["attributes"]["TextIndent"] == 21.625
    assert first_p["text"] == [
        "IN THE SUPREME COURT OF THE UNITED STATES - - - - - - - - - - - - "
        "- - - - - x MICHAEL A. KNOWLES, : WARDEN, :"
    ]


def test_cli_json(demo):
    """test_convert.py:205-228."""
    res = _cli(DEMO, "--format", "json", "--pages", "1-2", "5",
               "--indent", "2")
    c = json.loads(res)
    assert c["pages"][0]["page_number"] == 1
    assert c["pages"][1]["page_number"] == 2
    assert c["pages"][2]["page_number"] == 5
    assert c["pages"][0]["rects"][0]["bottom"] == float(
        demo.pages[0].rects[0]["bottom"]
    )


def test_cli_csv_pinned_row():
    """test_convert.py:230-248 — byte-exact reference CSV row."""
    res = _cli(DEMO, "--format", "csv", "--precision", "3")
    assert res.decode("utf-8").split("\r\n")[9] == _CSV_ROW9


def test_csv_library_matches_cli_and_stringio(demo):
    """test_convert.py:175-187: to_csv string == stream form == CLI."""
    c = demo.to_csv(precision=3)
    assert c.split("\r\n")[9] == _CSV_ROW9
    sio = io.StringIO()
    demo.to_csv(sio, precision=3)
    sio.seek(0)
    assert c == sio.read()


def test_cli_csv_exclude():
    """test_convert.py:250-274."""
    res = _cli(DEMO, "--format", "csv", "--precision", "3",
               "--exclude-attrs", "matrix", "mcid", "ncs",
               "non_stroking_pattern", "stroking_pattern")
    assert res.decode("utf-8").split("\r\n")[9] == (
        "char,1,45.83,58.826,656.82,674.82,117.18,117.18,135.18,12.996,"
        "18.0,12.996,,,,,,,TimesNewRomanPSMT,"
        ',,"(0, 0, 0)",,,18.0,,,,,,Y,,1,'
    )


def test_cli_csv_include():
    """test_convert.py:276-292."""
    res = _cli(DEMO, "--format", "csv", "--precision", "3",
               "--include-attrs", "page_number")
    assert res.decode("utf-8").split("\r\n")[9] == "char,1"


# ---------------------------------------------------------------------------
# test_repair.py (all six; ours is the from-scratch structural rebuilder
# where the reference shells to ghostscript — same contract)


def test_repair_from_issue_932():
    """test_repair.py:15-30. DOCUMENTED DIVERGENCE: the reference's
    pdfminer misreads this malformed file until ghostscript repairs it
    (char bottom > page height pre-repair); our lenient parser already
    recovers the true geometry on plain open. The port therefore pins
    the post-repair contract on all three input forms AND that the
    plain open agrees with the repaired reads."""
    path = f"{PDFS}/malformed-from-issue-932.pdf"
    pdf = api.open(path)
    page = pdf.pages[0]
    plain_bottom = page.chars[0]["bottom"]
    assert plain_bottom < page.height  # lenient parser: already correct

    pdf = api.open(path, repair=True)
    page = pdf.pages[0]
    assert page.chars[0]["bottom"] < page.height
    assert page.chars[0]["bottom"] == plain_bottom

    repaired = api.repair(path)
    pdf = api.open(repaired)
    page = pdf.pages[0]
    assert page.chars[0]["bottom"] < page.height
    assert page.chars[0]["bottom"] == plain_bottom


def test_repair_other_inputs():
    """test_repair.py:32-37: file-object input."""
    path = f"{PDFS}/malformed-from-issue-932.pdf"
    with open(path, "rb") as f:
        pdf = api.open(f, repair=True)
    page = pdf.pages[0]
    assert page.chars[0]["bottom"] < page.height


def test_repair_bad_path():
    """test_repair.py:39-44."""
    with pytest.raises(Exception):
        api.open(f"{PDFS}/abc.xyz", repair=True)


def test_repair_to_file():
    """test_repair.py:46-53."""
    path = f"{PDFS}/malformed-from-issue-932.pdf"
    with tempfile.NamedTemporaryFile("wb", suffix=".pdf") as out:
        api.repair(path, outfile=out.name)
        pdf = api.open(out.name)
        page = pdf.pages[0]
        assert page.chars[0]["bottom"] < page.height


def test_repair_password():
    """test_repair.py:55-58."""
    pdf = api.open(f"{PDFS}/password-example.pdf", repair=True,
                   password="test")
    assert len(pdf.pages[0].chars)


def test_repair_custom_path():
    """test_repair.py:60-62: explicit gs_path. Ghostscript is absent in
    this environment, so the explicit-path form runs the reference's
    gs pipeline only when gs exists; gs_path=None exercises the same
    parameter plumbing through the built-in rebuilder."""
    import shutil

    path = f"{PDFS}/malformed-from-issue-932.pdf"
    pdf = api.open(path, repair=True, gs_path=shutil.which("gs"))
    assert len(pdf.pages[0].chars)


# ---------------------------------------------------------------------------
# test_structure.py::test_element_bbox (reference :933-963)


def test_element_bbox():
    pdf = api.open(f"{PDFS}/pdf_structure.pdf")
    stree = pdf.structure_tree()
    # As BBox attribute
    table = next(stree.find_all("Table"))
    assert tuple(stree.element_bbox(table)) == (56.7, 489.9, 555.3, 542.25)
    # With child elements (mcid-object union)
    tr = next(table.find_all("TR"))
    assert tuple(stree.element_bbox(tr)) == (56.8, 495.9, 328.312, 507.9)
    # From a specific page it should also work
    stree = pdf.structure_tree(page=pdf.pages[0])
    table = next(stree.find_all("Table"))
    assert tuple(stree.element_bbox(table)) == (56.7, 489.9, 555.3, 542.25)
    tr = next(table.find_all("TR"))
    assert tuple(stree.element_bbox(tr)) == (56.8, 495.9, 328.312, 507.9)
    # Cropped page: the element gets cropped too
    page = pdf.pages[0].crop((10, 400, 500, 500))
    stree = pdf.structure_tree(page=page)
    table = next(stree.find_all("Table"))
    assert tuple(stree.element_bbox(table)) == (56.7, 489.9, 500, 500)
    # Cropped out of the page entirely
    page = pdf.pages[0].crop((0, 0, 560, 400))
    stree = pdf.structure_tree(page=page)
    table = next(stree.find_all("Table"))
    with pytest.raises(IndexError):
        stree.element_bbox(table)


# ---------------------------------------------------------------------------
# test_utils.py leftovers


def test_text_rotation_layout():
    """test_utils.py:134-169: all eight rotation/mirror pages of
    issue-848 read in order under layout=True with the rotation's
    char/line directions."""
    rotations = {
        "0": ("ltr", "ttb"),
        "-0": ("rtl", "ttb"),
        "180": ("rtl", "btt"),
        "-180": ("ltr", "btt"),
        "90": ("ttb", "rtl"),
        "-90": ("btt", "rtl"),
        "270": ("btt", "ltr"),
        "-270": ("ttb", "ltr"),
    }

    def meets_expectations(text):
        a = re.search("opens with a news report", text)
        b = re.search("having been transferred", text)
        return a and b and (a.start() < b.start())

    pdf = api.open(f"{PDFS}/issue-848.pdf")
    for i, (_rotation, (char_dir, line_dir)) in enumerate(
        rotations.items()
    ):
        p = pdf.pages[i].filter(lambda obj: obj.get("text") != " ")
        output = p.extract_text(
            layout=True,
            x_tolerance=2,
            y_tolerance=2,
            char_dir=char_dir,
            line_dir=line_dir,
            char_dir_rotated=char_dir,
            line_dir_rotated=line_dir,
            char_dir_render="ltr",
            line_dir_render="ttb",
            y_density=14,
        )
        assert meets_expectations(output), _rotation


def test_search_regex_uncompiled():
    """test_utils.py:414-421."""
    page = api.open(SCOTUS).pages[0]
    results = page.search(r"supreme\s+(\w+)", case=False)
    assert results[0]["text"] == "SUPREME COURT"
    assert results[0]["groups"] == ("COURT",)
    assert results[1]["text"] == "Supreme Court"
    assert results[1]["groups"] == ("Court",)


def test_search_string():
    """test_utils.py:423-433."""
    page = api.open(SCOTUS).pages[0]
    results = page.search("SUPREME COURT", regex=False)
    assert results[0]["text"] == "SUPREME COURT"
    assert results[0]["groups"] == tuple()

    results = page.search("supreme court", regex=False)
    assert len(results) == 0

    results = page.search("supreme court", regex=False, case=False)
    assert len(results) == 2
