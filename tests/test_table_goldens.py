"""Reference table-suite goldens (tests/test_table.py) via the API facade."""

import pytest

import pdfplumber_spark.api as pdfplumber
from reforacle import REFERENCE

PDFS = f"{REFERENCE}/tests/pdfs"


def test_edges_strict():
    # test_table.py:53-73
    with pdfplumber.open(f"{PDFS}/issue-140-example.pdf") as pdf:
        t = pdf.pages[0].extract_table(
            {"vertical_strategy": "lines_strict",
             "horizontal_strategy": "lines_strict"}
        )
    assert t[-1] == [
        "", "0085648100300", "CENTRAL KMA", "LILYS 55% DARK CHOC BAR",
        "415", "$ 0.61", "$ 253.15", "0.0000", "",
    ]


def test_text_tolerance():
    # test_table.py:89-131
    with pdfplumber.open(f"{PDFS}/senate-expenditures.pdf") as pdf:
        bbox = (70.332, 130.986, 420, 509.106)
        cropped = pdf.pages[0].crop(bbox)
        t = cropped.extract_table(
            {"horizontal_strategy": "text", "vertical_strategy": "text",
             "min_words_vertical": 20}
        )
        t_tol = cropped.extract_table(
            {"horizontal_strategy": "text", "vertical_strategy": "text",
             "min_words_vertical": 20, "text_x_tolerance": 1}
        )
        t_tol_tables = cropped.extract_tables(
            {"horizontal_strategy": "text", "vertical_strategy": "text",
             "min_words_vertical": 20, "text_x_tolerance": 1}
        )[0]
    assert t[-1] == [
        "DHAW20190070", "09/09/2019", "CITIBANK-TRAVELCBACARD",
        "08/12/2019", "08/14/2019",
    ]
    assert t_tol[-1] == [
        "DHAW20190070", "09/09/2019", "CITIBANK - TRAVEL CBA CARD",
        "08/12/2019", "08/14/2019",
    ]
    assert t_tol[-1] == t_tol_tables[-1]


def test_text_layout_cell():
    # test_table.py:133-144
    with pdfplumber.open(f"{PDFS}/issue-53-example.pdf") as pdf:
        table = pdf.pages[0].extract_table({"text_layout": True})
    assert table[3][0] == "   FY2013   \n   FY2014   "


def test_table_order():
    # test_table.py:150-160 (issue #336)
    with pdfplumber.open(f"{PDFS}/issue-336-example.pdf") as pdf:
        tables = pdf.pages[0].extract_tables()
        assert len(tables) == 3
        assert len(tables[0]) == 8
        assert len(tables[1]) == 11
        assert len(tables[2]) == 2


def test_mixed_strategy():
    # test_table.py:162-189 (issue #466)
    with pdfplumber.open(f"{PDFS}/issue-466-example.pdf") as pdf:
        tables = pdf.pages[0].extract_tables(
            {"vertical_strategy": "lines", "horizontal_strategy": "text",
             "snap_tolerance": 8, "intersection_tolerance": 4}
        )
        for t in tables:
            assert len(t) == 4
            assert len(t[0]) == 3
            for cell in t[3]:
                assert "last" in cell


def test_nics_full_settings():
    # test_table.py:191-214 (discussion #539)
    with pdfplumber.open(f"{PDFS}/nics-background-checks-2015-11.pdf") as pdf:
        page = pdf.pages[0]
        settings = {
            "vertical_strategy": "lines", "horizontal_strategy": "lines",
            "explicit_vertical_lines": [], "explicit_horizontal_lines": [],
            "snap_tolerance": 3, "join_tolerance": 3, "edge_min_length": 3,
            "min_words_vertical": 3, "min_words_horizontal": 1,
            "text_keep_blank_chars": False, "text_tolerance": 3,
            "intersection_tolerance": 3,
        }
        assert page.extract_table(settings)
        assert page.extract_tables(settings)


def test_table_curves():
    # test_table.py:216-228 (discussion #808)
    with pdfplumber.open(f"{PDFS}/table-curves-example.pdf") as pdf:
        page = pdf.pages[0]
        assert len(page.curves)
        tables = page.extract_tables()
        assert len(tables) == 1
        t = tables[0]
        assert t[-2][-2] == "Uncommon"
        assert len(page.extract_tables({"vertical_strategy": "lines_strict"})) == 0


def test_debug_tablefinder_warn_anchors():
    """debug_tablefinder (SURVEY §2.1 promised text-mode equivalent of
    reference page.py:427-431) exposes the pipeline state; counts pinned to
    the reference WARN anchors (304 intersections, 46 merged edges)."""
    import pdfplumber_spark.api as pdfplumber

    with pdfplumber.open(
        f"{REFERENCE}/tests/pdfs/WARN-Report-for-7-1-2015-to-03-25-2016.pdf"
    ) as pdf:
        tf = pdf.pages[0].debug_tablefinder()
        assert len(tf.edges) == 46
        assert len(tf.intersections) == 304
        assert len(tf.tables) == 1
        assert len(tf.tables[0].rows) > 0


def test_table_curves_discussion_808():
    """Reference test_table.py:215-226 — curve-ruled table (the VERDICT r1
    curve-edge fix's real-world anchor): curves feed the edge set; the
    lines_strict strategy excludes them."""
    import pdfplumber_spark.api as pdfplumber

    with pdfplumber.open(
        f"{REFERENCE}/tests/pdfs/table-curves-example.pdf"
    ) as pdf:
        page = pdf.pages[0]
        assert len(page.curves)
        tables = page.extract_tables()
        assert len(tables) == 1
        assert tables[0][-2][-2] == "Uncommon"
        assert len(
            page.extract_tables({"vertical_strategy": "lines_strict"})
        ) == 0


def test_issue_466_mixed_strategy():
    # reference test_table.py:162-189
    import pdfplumber_spark.api as pdfplumber

    with pdfplumber.open(
        f"{REFERENCE}/tests/pdfs/issue-466-example.pdf"
    ) as pdf:
        tables = pdf.pages[0].extract_tables(
            {
                "vertical_strategy": "lines",
                "horizontal_strategy": "text",
                "snap_tolerance": 8,
                "intersection_tolerance": 4,
            }
        )
        for t in tables:
            assert len(t) == 4
            assert len(t[0]) == 3
            for cell in t[3]:
                assert "last" in cell


def test_discussion_539_full_settings():
    # reference test_table.py:191-213 (the full explicit settings dict)
    import pdfplumber_spark.api as pdfplumber

    with pdfplumber.open(
        f"{REFERENCE}/tests/pdfs/nics-background-checks-2015-11.pdf"
    ) as pdf:
        page = pdf.pages[0]
        table_settings = {
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
        assert page.extract_table(table_settings)
        assert page.extract_tables(table_settings)


def test_edges_strict_golden():
    # reference test_table.py:54-74
    import pdfplumber_spark.api as pdfplumber

    with pdfplumber.open(
        f"{REFERENCE}/tests/pdfs/issue-140-example.pdf"
    ) as pdf:
        t = pdf.pages[0].extract_table(
            {"vertical_strategy": "lines_strict",
             "horizontal_strategy": "lines_strict"}
        )
    assert t[-1] == [
        "", "0085648100300", "CENTRAL KMA", "LILYS 55% DARK CHOC BAR",
        "415", "$ 0.61", "$ 253.15", "0.0000", "",
    ]


def test_text_tolerance_golden():
    # reference test_table.py:91-135
    import pdfplumber_spark.api as pdfplumber

    with pdfplumber.open(
        f"{REFERENCE}/tests/pdfs/senate-expenditures.pdf"
    ) as pdf:
        cropped = pdf.pages[0].crop((70.332, 130.986, 420, 509.106))
        t = cropped.extract_table(
            {"horizontal_strategy": "text", "vertical_strategy": "text",
             "min_words_vertical": 20}
        )
        t_tol = cropped.extract_table(
            {"horizontal_strategy": "text", "vertical_strategy": "text",
             "min_words_vertical": 20, "text_x_tolerance": 1}
        )
        t_tol_from_tables = cropped.extract_tables(
            {"horizontal_strategy": "text", "vertical_strategy": "text",
             "min_words_vertical": 20, "text_x_tolerance": 1}
        )[0]
    assert t[-1] == [
        "DHAW20190070", "09/09/2019", "CITIBANK-TRAVELCBACARD",
        "08/12/2019", "08/14/2019",
    ]
    assert t_tol[-1] == [
        "DHAW20190070", "09/09/2019", "CITIBANK - TRAVEL CBA CARD",
        "08/12/2019", "08/14/2019",
    ]
    assert t_tol[-1] == t_tol_from_tables[-1]
