"""In-repo pins for the plans that read the parser buffers: search and text
lines, annotations, structure text and the laparams reading order.

Inputs are ``kernel.pdfgen`` documents; every expected value is derived
from what the test wrote (texts, link rects, page heights, MCIDs), never
recorded from engine output. The plans are exercised through their
per-payload functions, the code each Spark task runs.
"""

import json
import re

import pytest

import pdfplumber_spark.api as pdfplumber
from pdfplumber_spark.kernel.pdfgen import make_pdf
from pdfplumber_spark.kernel.structure import tree_to_json
from pdfplumber_spark.plans import extract as X
from pdfplumber_spark.plans import search as S

URL = "gen://three-pages"
HEIGHTS = (792, 600, 792)
SEARCH = r"[a-z]{6,}"
LEFT_X, RIGHT_X = 72, 320

PAGE1_TEXTS = [
    {"x": 72, "top": 80, "text": "Quarterly revenue summary"},
    {"x": 72, "top": 140, "text": "Operating margins improved"},
]
# two columns of two close lines each, written row by row, so rendering
# order interleaves the columns
PAGE3_TEXTS = [
    {"x": LEFT_X, "top": 100, "size": 10, "text": "alpha column"},
    {"x": RIGHT_X, "top": 100, "size": 10, "text": "gamma section"},
    {"x": LEFT_X, "top": 111, "size": 10, "text": "bravo column"},
    {"x": RIGHT_X, "top": 111, "size": 10, "text": "delta section"},
]
LINKS = {
    1: {"x0": 72, "top": 60, "x1": 200, "bottom": 75,
        "uri": "https://example.com/report"},
    3: {"x0": 320, "top": 300, "x1": 420, "bottom": 320,
        "uri": "https://example.com/columns"},
}
TEXTS = {1: PAGE1_TEXTS, 2: [], 3: PAGE3_TEXTS}


@pytest.fixture(scope="module")
def three_pages() -> bytes:
    return make_pdf([
        {"width": 612, "height": HEIGHTS[0], "texts": PAGE1_TEXTS,
         "links": [LINKS[1]]},
        {"width": 612, "height": HEIGHTS[1],
         "rects": [{"x0": 100, "top": 100, "x1": 300, "bottom": 200}]},
        {"width": 612, "height": HEIGHTS[2], "texts": PAGE3_TEXTS,
         "links": [LINKS[3]]},
    ])


def _written_lines(texts) -> list:
    """Plain-mode text lines: texts sharing a top, joined by one space in
    x order, top to bottom."""
    tops = sorted({t["top"] for t in texts})
    return [
        " ".join(t["text"] for t in sorted(texts, key=lambda t: t["x"])
                 if t["top"] == top)
        for top in tops
    ]


def _rows_by_page(frames) -> dict:
    out: dict = {}
    for f in frames:
        for rec in f.to_dict("records"):
            out.setdefault(rec["page_number"], []).append(rec)
    return out


def test_search_and_text_lines_per_page(three_pages):
    lines = _rows_by_page(S._payload_to_match_frames(
        URL, three_pages, "", True, True, True))
    found = _rows_by_page(S._payload_to_match_frames(
        URL, three_pages, SEARCH, True, True, False))
    for rows in (lines, found):
        assert sorted(rows) == [1, 3]  # page 2 has no chars, so no rows
    for pn in (1, 3):
        written = _written_lines(TEXTS[pn])
        assert [r["text"] for r in lines[pn]] == written
        assert [r["text"] for r in found[pn]] == [
            m for ln in written for m in re.findall(SEARCH, ln)]
        for rows in (lines[pn], found[pn]):
            assert [r["match_index"] for r in rows] == list(range(len(rows)))
            assert {r["url"] for r in rows} == {URL}
        # each line starts at its leftmost text origin
        assert [r["x0"] for r in lines[pn]] == [
            float(min(t["x"] for t in TEXTS[pn] if t["top"] == top))
            for top in sorted({t["top"] for t in TEXTS[pn]})]


def test_plan_matches_equal_facade(three_pages):
    keys = ("text", "x0", "top", "x1", "bottom", "start", "end")
    plan = {
        "search": _rows_by_page(S._payload_to_match_frames(
            URL, three_pages, SEARCH, True, True, False)),
        "lines": _rows_by_page(S._payload_to_match_frames(
            URL, three_pages, "", True, True, True)),
    }
    with pdfplumber.open(three_pages) as pdf:
        for page in pdf.pages:
            facade = {
                "search": page.search(SEARCH, return_chars=False),
                "lines": page.extract_text_lines(return_chars=False),
            }
            for kind, recs in facade.items():
                got = plan[kind].get(page.page_number, [])
                assert [tuple(r[k] for k in keys) for r in got] == [
                    tuple(r[k] for k in keys) for r in recs], kind


def test_facade_match_chars_are_the_matched_chars(three_pages):
    with pdfplumber.open(three_pages) as pdf:
        page = pdf.pages[2]
        for rec in page.extract_text_lines():
            chars = rec["chars"]
            assert "".join(c["text"] for c in chars).replace(" ", "") == (
                rec["text"].replace(" ", ""))
            assert min(c["x0"] for c in chars) == rec["x0"]
            assert max(c["x1"] for c in chars) == rec["x1"]


def test_annots_from_written_rects(three_pages):
    frames = X._payload_to_annots(URL, three_pages)
    rows = [r for f in frames for r in f.to_dict("records")]
    assert [r["page_number"] for r in rows] == [1, 3]
    for r in rows:
        pn = r["page_number"]
        link = LINKS[pn]
        assert list(frames[0].columns) == X.ANNOT_COLS
        assert r["url"] == URL
        assert r["uri"] == link["uri"]
        assert (r["x0"], r["x1"]) == (link["x0"], link["x1"])
        # the written top-left rect survives the PDF-space round trip
        assert r["top"] == pytest.approx(link["top"])
        assert r["bottom"] == pytest.approx(link["bottom"])
        assert r["doctop"] == pytest.approx(
            sum(HEIGHTS[:pn - 1]) + link["top"])


def _is_left(x0) -> bool:
    return x0 < RIGHT_X


def test_laparams_reading_order_puts_left_column_first(three_pages):
    (objs,) = X._payload_to_objects(URL, three_pages, laparams={})
    chars = objs[(objs["object_type"] == "char") & (objs["page_number"] == 3)]
    by_rank = chars.sort_values("obj_index")
    left = [_is_left(x) for x in by_rank["x0"]]
    n_left = sum(left)
    assert 0 < n_left < len(left)
    assert left == [True] * n_left + [False] * (len(left) - n_left)
    assert sorted(chars["obj_index"]) == list(range(len(chars)))

    with pdfplumber.open(three_pages) as pdf:
        rendering = [_is_left(c["x0"]) for c in pdf.pages[2].chars]
    # rendering order interleaves the columns, so the check above is not
    # vacuous
    assert rendering != sorted(rendering, reverse=True)
    with pdfplumber.open(three_pages, laparams={}) as pdf:
        reading = [_is_left(c["x0"]) for c in pdf.pages[2].chars]
    assert reading == left


# a tagged page: MCID 0 is one text run per column, the right one written
# first; MCID 1 is two separate paragraphs
TAGGED_TEXTS = [
    {"x": RIGHT_X, "top": 100, "text": "Right side", "mcid": 0},
    {"x": LEFT_X, "top": 100, "text": "Left side", "mcid": 0},
    {"x": LEFT_X, "top": 300, "text": "Body one", "mcid": 1},
    {"x": LEFT_X, "top": 400, "text": "Body two", "mcid": 1},
]


@pytest.fixture(scope="module")
def tagged() -> bytes:
    return make_pdf([{"width": 612, "height": 792, "tagged": True,
                      "texts": TAGGED_TEXTS}])


def _mcid_texts(tree_json: str) -> dict:
    out = {}
    queue = list(json.loads(tree_json))
    while queue:
        el = queue.pop(0)
        queue.extend(el.get("children", []))
        for m, t in zip(el.get("mcids", []), el.get("text", [])):
            out[m] = t
    return out


def test_structure_text_per_mcid(tagged):
    written = {
        m: "".join(t["text"] for t in TAGGED_TEXTS if t["mcid"] == m)
        for m in (0, 1)
    }
    assert _mcid_texts(tree_to_json(tagged, with_text=True)) == written
    ((url, tree),) = X._payload_to_structure_rows(URL, tagged, with_text=True)
    assert url == URL and _mcid_texts(tree) == written


def test_structure_text_laparams_reading_order(tagged):
    got = _mcid_texts(tree_to_json(tagged, with_text=True, laparams={}))
    assert got[0] == "Left side" + "Right side"
