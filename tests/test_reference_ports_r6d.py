"""Reference-port sweep part 4 (round 6): the remaining unported cases
from the reference's test_basics.py / test_ctm.py / test_table.py /
test_ca_warn_report.py / test_nics_report.py / test_dedupe_chars.py,
with the reference's exact pinned values.
"""

import pandas as pd
import pytest

from pdfplumber_spark import api
from pdfplumber_spark import utils as U
from pdfplumber_spark.kernel import tables as T
from reforacle import REFERENCE

PDFS = f"{REFERENCE}/tests/pdfs"


@pytest.fixture(scope="module")
def nics():
    return api.open(f"{PDFS}/nics-background-checks-2015-11.pdf")


@pytest.fixture(scope="module")
def warn():
    return api.open(f"{PDFS}/WARN-Report-for-7-1-2015-to-03-25-2016.pdf")


# ---------------------------------------------------------------------------
# test_basics.py leftovers


def test_basics_metadata_pagecount_pagenumber(nics):
    """test_basics.py:29-38."""
    assert isinstance(nics.metadata["Producer"], str)
    assert len(nics.pages) == 1
    assert nics.pages[0].page_number == 1
    assert str(nics.pages[0]) == "<Page:1>"


def test_basics_crop_and_filter(nics):
    """test_basics.py:62-80: crop vs within_bbox cardinality + filter."""
    bbox = (0, 0, 200, 200)
    original = nics.pages[0]
    cropped = original.crop(bbox)
    assert cropped.width == 200
    assert len(cropped.rects) > 0
    assert len(cropped.chars) < len(original.chars)

    within_bbox = original.within_bbox(bbox)
    assert len(within_bbox.chars) < len(cropped.chars)
    assert len(within_bbox.chars) > 0

    filtered = cropped.filter(lambda o: o["object_type"] == "char")
    assert len(filtered.rects) == 0


def test_basics_outside_bbox(nics):
    """test_basics.py:82-86: everything outside the table is the footer."""
    original = nics.pages[0]
    outside = original.outside_bbox(original.find_tables()[0].bbox)
    assert outside.extract_text() == "Page 1 of 205"
    assert outside.bbox == original.bbox


def test_basics_relative_crop(nics):
    """test_basics.py:88-111 incl. the issue-245 and issue-914 regressions."""
    page = nics.pages[0]
    cropped = page.crop((10, 10, 40, 40))
    recropped = cropped.crop((10, 15, 20, 25), relative=True)
    assert recropped.bbox == (20, 25, 30, 35)
    recropped_wi = cropped.within_bbox((10, 15, 20, 25), relative=True)
    assert recropped_wi.bbox == (20, 25, 30, 35)

    # issue #245: relative crops of a bottom strip must not raise
    bottom = page.crop((0, 0.8 * float(page.height), page.width, page.height))
    bottom.crop((0, 0, 0.5 * float(bottom.width), bottom.height),
                relative=True)
    bottom.crop((0.5 * float(bottom.width), 0, bottom.width, bottom.height),
                relative=True)

    # issue #914: relative crop of a crop must keep its objects
    crop_right = page.crop((page.width / 2, 0, page.width, page.height))
    again = crop_right.crop((0, 0, crop_right.width / 2, page.height),
                            relative=True)
    assert len(again.chars)


def test_basics_invalid_crops(nics):
    """test_basics.py:113-143: degenerate/outside boxes raise; strict=False
    tolerates an oversized box."""
    page = nics.pages[0]
    for bad in [(0, 0, 0, 0), (0, 0, 10000, 10), (-10, 0, 10, 10),
                (100, 0, 0, 100), (0, 100, 100, 0)]:
        with pytest.raises(ValueError):
            page.crop(bad)
    bottom = page.crop((0, 0.8 * float(page.height), page.width,
                        page.height))
    with pytest.raises(ValueError):
        bottom.crop((0, 0, 0.5 * float(bottom.width), bottom.height))
    with pytest.raises(ValueError):
        bottom.crop((0.5 * float(bottom.width), 0, bottom.width,
                     bottom.height))
    with pytest.raises(ValueError):
        page.crop((0, 0, page.width + 10, page.height + 10))
    page.crop((0, 0, page.width + 10, page.height + 10), strict=False)


def test_basics_loading_fileobj():
    """test_basics.py:182-188: file objects are used, never auto-closed."""
    path = f"{PDFS}/nics-background-checks-2015-11.pdf"
    with open(path, "rb") as f:
        pdf = api.open(f)
        assert len(pdf.metadata)
        assert not f.closed


# ---------------------------------------------------------------------------
# test_ctm.py


def test_ctm_pdffill_demo():
    """test_ctm.py:13-37: rotated chars decompose into the exact
    translation/skew/scale the reference pins."""
    from pdfplumber_spark.api import CTM

    pdf = api.open(f"{PDFS}/pdffill-demo.pdf")
    left = CTM(*pdf.pages[3].chars[97]["matrix"])
    right = CTM(*pdf.pages[3].chars[105]["matrix"])
    assert round(left.translation_x) == 126
    assert round(right.translation_x) == 372
    assert round(left.translation_y) == 519
    assert round(right.translation_y) == 562
    assert left.skew_x == 45 and right.skew_x == -45
    assert left.skew_y == 45 and right.skew_y == -45
    for ctm in (left, right):
        assert round(ctm.scale_x, 3) == 1
        assert round(ctm.scale_y, 3) == 1


# ---------------------------------------------------------------------------
# test_table.py leftovers


def test_table_settings_errors(nics):
    """test_table.py:30-52: settings-resolution parity — non-dict raises
    ValueError, unknown key raises TypeError (the reference dataclass's
    unexpected-keyword), bad strategy / empty explicit list / negative
    tolerance raise ValueError."""
    page = nics.pages[0]
    with pytest.raises(ValueError):
        page.find_tables(tuple())
    with pytest.raises(TypeError):
        page.find_tables({"strategy": "x"})
    with pytest.raises(ValueError):
        page.find_tables({"vertical_strategy": "x"})
    with pytest.raises(ValueError):
        page.find_tables({
            "vertical_strategy": "explicit",
            "explicit_vertical_lines": [],
        })
    with pytest.raises(ValueError):
        page.find_tables({"join_tolerance": -1})


def test_table_explicit_desc_decimalization(nics):
    """test_table.py:76-89 (issue #290): int explicit lines extract."""
    tables = nics.pages[0].find_tables({
        "vertical_strategy": "explicit",
        "explicit_vertical_lines": [100, 200, 300],
        "horizontal_strategy": "explicit",
        "explicit_horizontal_lines": [100, 200, 300],
    })
    assert tables[0].extract()


def test_table_text_without_words():
    """test_table.py:146-148: empty word set -> no text edges."""
    empty = pd.DataFrame(columns=["x0", "x1", "top", "bottom"])
    assert len(T.words_to_edges_h(empty, 3)) == 0
    assert len(T.words_to_edges_v(empty, 3)) == 0


def test_table_order():
    """test_table.py:150-160 (issue #336): top-to-bottom table order with
    the reference's exact per-table row counts."""
    pdf = api.open(f"{PDFS}/issue-336-example.pdf")
    tables = pdf.pages[0].extract_tables()
    assert [len(t) for t in tables] == [8, 11, 2]


def test_table_discussion_539_null_value(nics):
    """test_table.py:191-213: a fully-specified settings dict (incl.
    explicit [] lines and text_* keys) resolves and extracts."""
    settings = {
        "vertical_strategy": "lines",
        "horizontal_strategy": "lines",
        "explicit_vertical_lines": [],
        "explicit_horizontal_lines": [],
        "snap_tolerance": 3,
        "join_tolerance": 3,
        "edge_min_length": 3,
        "min_words_vertical": 3,
        "min_words_horizontal": 1,
        "text_keep_blank_chars": False,
        "text_tolerance": 3,
        "intersection_tolerance": 3,
    }
    page = nics.pages[0]
    assert page.extract_table(settings)
    assert page.extract_tables(settings)


# ---------------------------------------------------------------------------
# test_ca_warn_report.py leftovers


def test_warn_parse(warn):
    """test_ca_warn_report.py:42-77: cluster page-2 rect x0s into explicit
    vertical lines, parse page 1, pin the header + first data row."""
    v_lines = [c[0] for c in U.cluster_list(
        [r["x0"] for r in warn.pages[1].rects], tolerance=3
    )]

    def fix_row_spaces(row):
        return [(x or "").replace(" ", "") for x in row[:3]] + row[3:]

    data = warn.pages[0].extract_table({
        "vertical_strategy": "explicit",
        "explicit_vertical_lines": v_lines,
    })
    parsed = [fix_row_spaces(row) for row in data]
    assert parsed[0] == [
        "NoticeDate", "Effective", "Received", "Company", "City",
        "No. Of", "Layoff/Closure",
    ]
    assert parsed[1] == [
        "06/22/2015", "03/25/2016", "07/01/2015",
        "Maxim Integrated Product", "San Jose", "150",
        "Closure Permanent",
    ]


def test_warn_edge_merging(warn):
    """test_ca_warn_report.py:79-105: raw edge count + two merge regimes."""
    edges = pd.DataFrame(warn.pages[0].edges)
    assert len(edges) == 364
    assert len(T.merge_edges_frame(edges, 3, 3, 3, 3)) == 46
    assert len(T.merge_edges_frame(edges, 3, 3, 3, 0)) == 52


def test_warn_vertices(warn):
    """test_ca_warn_report.py:131-141: merged edges -> 304 = 38x8
    intersections."""
    merged = T.merge_edges_frame(pd.DataFrame(warn.pages[0].edges), 3, 3, 3, 3)
    merged = T.EdgeArrays.from_records(merged.to_dict("records"))
    assert len(T.find_intersections(merged, 1, 1)) == 304


# ---------------------------------------------------------------------------
# test_nics_report.py leftovers


def test_nics_text_only_strategy(nics):
    """test_nics_report.py:104-115: text/text strategy on the cropped
    state table pins the corner cells."""
    cropped = nics.pages[0].crop((0, 80, float(nics.pages[0].width), 475))
    tbl = cropped.extract_table(dict(
        horizontal_strategy="text", vertical_strategy="text",
    ))
    assert tbl[0][0] == "Alabama"
    assert tbl[0][22] == "71,137"
    assert tbl[-1][0] == "Wyoming"
    assert tbl[-1][22] == "5,017"


def test_nics_explicit_horizontal(nics):
    """test_nics_report.py:117-160: explicit horizontal lines lifted from
    the text-strategy rows (numeric AND object forms) reproduce the same
    extraction."""
    W = float(nics.pages[0].width)
    cropped = nics.pages[0].crop((0, 80, W, 475))
    text_table = cropped.find_tables(dict(
        horizontal_strategy="text", vertical_strategy="text",
    ))[0]
    h_positions = [row[0][1] for row in text_table.rows] + [
        text_table.rows[-1][0][3]
    ]
    t_explicit = cropped.find_tables(dict(
        horizontal_strategy="explicit", vertical_strategy="text",
        explicit_horizontal_lines=h_positions,
    ))[0]
    assert text_table.extract() == t_explicit.extract()

    h_objs = [
        {"x0": 0, "x1": W, "width": W, "top": h, "bottom": h,
         "object_type": "line"}
        for h in h_positions
    ]
    t_explicit_objs = cropped.find_tables(dict(
        horizontal_strategy="explicit", vertical_strategy="text",
        explicit_horizontal_lines=h_objs,
    ))[0]
    assert text_table.extract() == t_explicit_objs.extract()


# ---------------------------------------------------------------------------
# test_dedupe_chars.py leftover


def test_dedupe_extract_text2():
    """test_dedupe_chars.py:66-74: dedupe + y_tolerance pins an accented
    line."""
    pdf = api.open(f"{PDFS}/issue-71-duplicate-chars-2.pdf")
    line = pdf.pages[0].dedupe_chars().extract_text(
        y_tolerance=6
    ).splitlines()[4]
    assert line == "UE 8. Circulation - Métabolismes"
