"""Real-world fixture anchors: our parser + table kernels must reproduce the
reference's OWN test expectations on its own fixture PDFs
(``tests/test_ca_warn_report.py``, ``tests/test_nics_report.py``)."""

import numpy as np
import pandas as pd
import pytest

from pdfplumber_spark.kernel.cluster import cluster_list
from pdfplumber_spark.kernel.geom import lines_to_edges, rects_to_edges
from pdfplumber_spark.kernel.pdfparse import pdf_to_frames
from pdfplumber_spark.kernel.words import CharArrays
from pdfplumber_spark.kernel.tables import (
    EdgeArrays,
    extract_table_text,
    find_intersections,
    find_tables_frame,
    merge_edges_frame,
)
from reforacle import REFERENCE

WARN = f"{REFERENCE}/tests/pdfs/WARN-Report-for-7-1-2015-to-03-25-2016.pdf"
NICS = f"{REFERENCE}/tests/pdfs/nics-background-checks-2015-11.pdf"


@pytest.fixture(scope="module")
def warn_frames():
    return pdf_to_frames(open(WARN, "rb").read())


def page_edges(frames, pn):
    parts = []
    ln = frames["lines"]
    ln = ln[ln.page_number == pn]
    if len(ln):
        parts.append(lines_to_edges(ln))
    rc = frames["rects"]
    rc = rc[rc.page_number == pn]
    if len(rc):
        parts.append(rects_to_edges(rc))
    return pd.concat(parts, ignore_index=True)


def test_warn_edge_count_364(warn_frames):
    # reference test_ca_warn_report.py:80
    edges = page_edges(warn_frames, 1)
    assert len(edges) == 364


@pytest.mark.parametrize(
    "tols,expected",
    [((3, 3, 3, 3), 46), ((3, 3, 3, 0), 52), ((0, 3, 3, 3), 94), ((3, 0, 3, 3), 174)],
)
def test_warn_edge_merging_counts(warn_frames, tols, expected):
    # reference test_ca_warn_report.py:79-129
    edges = page_edges(warn_frames, 1)
    sx, sy, jx, jy = tols
    merged = merge_edges_frame(edges, sx, sy, jx, jy)
    assert len(merged) == expected


def test_warn_intersections_304(warn_frames):
    # reference test_ca_warn_report.py:131-141 (304 = 38x8)
    edges = page_edges(warn_frames, 1)
    merged = merge_edges_frame(edges, 3, 3, 3, 3)
    ixs = find_intersections(EdgeArrays.from_records(merged.to_dict("records")), 1, 1)
    assert len(ixs) == 304


def fix_row_spaces(row):
    return [(x or "").replace(" ", "") for x in row[:3]] + row[3:]


def test_warn_explicit_table_parse(warn_frames):
    # reference test_ca_warn_report.py:42-77: explicit strategy from
    # page-2 rect x0 clusters
    rc2 = warn_frames["rects"]
    rc2 = rc2[rc2.page_number == 2]
    clusters = cluster_list(rc2["x0"].tolist(), tolerance=3)
    v_lines = [c[0] for c in clusters]

    chars = warn_frames["chars"]
    chars1 = chars[chars.page_number == 1]
    edges1 = page_edges(warn_frames, 1)
    pages_meta = warn_frames["pages"]
    w = float(pages_meta[pages_meta.page_number == 1]["width"].iloc[0])
    h = float(pages_meta[pages_meta.page_number == 1]["height"].iloc[0])
    tables = find_tables_frame(
        edges1,
        page_bbox=(0, 0, w, h),
        vertical_strategy="explicit",
        explicit_vertical_lines=v_lines,
    )
    assert tables
    # largest-table-first tie-break (page.py:449-453)
    best = max(tables, key=lambda t: len(t))
    data = extract_table_text(best, CharArrays(chars1))
    parsed = [fix_row_spaces(r) for r in data]
    assert parsed[0] == [
        "NoticeDate", "Effective", "Received",
        "Company", "City", "No. Of", "Layoff/Closure",
    ]
    assert parsed[1] == [
        "06/22/2015", "03/25/2016", "07/01/2015",
        "Maxim Integrated Product", "San Jose", "150", "Closure Permanent",
    ]


@pytest.fixture(scope="module")
def nics_frames():
    return pdf_to_frames(open(NICS, "rb").read())


def test_nics_doc_edge_counts(nics_frames):
    # reference test_nics_report.py:55-57: 700 vertical / 508 horizontal
    parts = []
    for pn in nics_frames["pages"]["page_number"]:
        parts.append(page_edges(nics_frames, pn))
    edges = pd.concat(parts, ignore_index=True)
    assert (edges["orientation"] == "v").sum() == 700
    assert (edges["orientation"] == "h").sum() == 508


def test_nics_plain_invariant(nics_frames):
    # reference test_nics_report.py:59-90 (test_plain): crop to the table
    # area; horizontal text strategy + one explicit vertical line at the
    # min char x0; per-column sum == 2x the totals row
    from pdfplumber_spark.kernel.geom import coords, crop_frame, within_bbox_mask
    from pdfplumber_spark.kernel.layout import page_text_ca
    from pdfplumber_spark.kernel.words import WordSettings, extract_words_frame

    chars = nics_frames["chars"]
    chars1 = chars[chars.page_number == 1]
    w = float(nics_frames["pages"]["width"].iloc[0])
    bbox = (0.0, 80.0, w, 485.0)
    cropped_chars = crop_frame(chars1, bbox)
    cropped_edges = crop_frame(page_edges(nics_frames, 1), bbox)
    words, _, _ = extract_words_frame(cropped_chars, WordSettings())
    v_line = float(cropped_chars["x0"].min())
    tables = find_tables_frame(
        cropped_edges,
        words=words,
        page_bbox=bbox,
        vertical_strategy="lines",
        horizontal_strategy="text",
        explicit_vertical_lines=[v_line],
        intersection_tolerance=5,
    )
    assert tables
    best = max(tables, key=lambda t: len(t))
    data = extract_table_text(best, CharArrays(cropped_chars))

    def to_num(v):
        return int(v.replace(",", "")) if v else 0

    n_cols = len(data[0])
    assert n_cols == 25
    for ci in range(1, n_cols):
        col = [to_num(r[ci]) for r in data]
        assert sum(col) == 2 * col[-1], ci

    # month header (test_nics_report.py:86-88)
    month_chars = chars1[within_bbox_mask(*coords(chars1), (0, 35, w, 65))]
    assert page_text_ca(CharArrays(month_chars), WordSettings()) == "November - 2015"


def test_nics_filter_large_chars(nics_frames):
    # reference test_nics_report.py:92-102 (test_filter): size >= 15
    from pdfplumber_spark.kernel.layout import page_text_ca
    from pdfplumber_spark.kernel.words import WordSettings

    chars = nics_frames["chars"]
    chars1 = chars[chars.page_number == 1]
    big = chars1[chars1["size"] >= 15]
    assert page_text_ca(CharArrays(big), WordSettings()) == (
        "NICS Firearm Background Checks\nNovember - 2015"
    )


def test_nics_text_only_strategy(nics_frames):
    # reference test_nics_report.py:104-116: both strategies 'text'
    from pdfplumber_spark.kernel.geom import crop_frame
    from pdfplumber_spark.kernel.words import WordSettings, extract_words_frame

    chars = nics_frames["chars"]
    chars1 = chars[chars.page_number == 1]
    w = float(nics_frames["pages"]["width"].iloc[0])
    bbox = (0.0, 80.0, w, 475.0)
    cropped_chars = crop_frame(chars1, bbox)
    cropped_edges = crop_frame(page_edges(nics_frames, 1), bbox)
    words, _, _ = extract_words_frame(cropped_chars, WordSettings())
    tables = find_tables_frame(
        cropped_edges,
        words=words,
        page_bbox=bbox,
        vertical_strategy="text",
        horizontal_strategy="text",
    )
    assert tables
    best = max(tables, key=lambda t: len(t))
    data = extract_table_text(best, CharArrays(cropped_chars))
    assert data[0][0] == "Alabama"
    assert data[0][22] == "71,137"
    assert data[-1][0] == "Wyoming"
    assert data[-1][22] == "5,017"


def test_issue_848_parses_fast():
    """Regression: a long run of lexer-whitespace bytes followed by a char
    outside every fast-path token group made the one-shot lexer regex
    backtrack combinatorially (>60 s in a single re.match) because the
    ws/comment prefix was non-possessive. issue-848.pdf hit this in
    _load_xref_stream; with the atomic prefix the whole doc parses in
    well under a second."""
    import time

    from pdfplumber_spark.kernel.pdfparse import parse_pdf

    data = open(f"{REFERENCE}/tests/pdfs/issue-848.pdf", "rb").read()
    t0 = time.time()
    interps = parse_pdf(data, style=False)
    wall = time.time() - t0
    assert wall < 10, f"issue-848 parse took {wall:.1f}s"
    assert len(interps) == 8
    assert sum(i.n_chars for i in interps) == 12048
