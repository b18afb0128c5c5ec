"""The single-document facade (``api.Page``) over its char columns, checked
from in-repo inputs.

Every page comes from ``kernel.pdfgen.make_pdf``, and every expected char
box, clip, text and table cell is derived from the geometry the test wrote
(the writer's glyph widths and font box), never from engine output: derived
pages (``crop``, ``within_bbox``, ``outside_bbox``), ``dedupe_chars`` on a
run written twice at the same position, ``Table.extract`` on a cropped
page, the char record keys, the records ``filter`` passes its predicate,
and the ``utils`` text helpers against the page's own.
"""

import pytest

from pdfplumber_spark import api, utils
from pdfplumber_spark.kernel.pdfgen import (
    FONT_ASCENT,
    FONT_DESCENT,
    glyph_width,
    make_pdf,
)

SIZE = 10
HEIGHTS = [792, 700]
XS = [72.0, 172.0, 272.0]  # the ruled 2x2 grid on page 1
YS = [400.0, 430.0, 460.0]
GRID = [["a1", "b1"], ["a2", "b2"]]
BOLD = {"x": 72, "top": 130, "size": SIZE, "text": "Bold"}
PAGE1 = {
    "width": 612, "height": HEIGHTS[0],
    "texts": [
        {"x": 72, "top": 100, "size": SIZE, "text": "Alpha beta"},
        {"x": 245, "top": 100, "size": SIZE, "text": "Gamma"},
        BOLD, dict(BOLD),  # the same run written twice at one position
        *({"x": XS[i] + 4, "top": YS[j] + 8, "size": SIZE, "text": GRID[j][i]}
          for j in range(2) for i in range(2)),
    ],
    "lines": [{"x0": XS[0], "top": y, "x1": XS[-1], "bottom": y} for y in YS]
    + [{"x0": x, "top": YS[0], "x1": x, "bottom": YS[-1]} for x in XS],
    "rects": [{"x0": 60, "top": 150, "x1": 200, "bottom": 180}],
    "curves": [{"pts": [(300, 600), (400, 650), (500, 600)]}],
}
PAGE2 = {"width": 612, "height": HEIGHTS[1],
         "texts": [{"x": 72, "top": 72, "size": SIZE, "text": "Page two"}]}
# cuts "Gamma" after its G and the rect's lower part
BBOX = (70.0, 90.0, 250.0, 160.0)
CHAR_KEYS = {
    "text", "fontname", "size", "adv", "upright", "x0", "x1", "y0", "y1",
    "top", "bottom", "doctop", "width", "height", "object_type", "mcid",
    "tag", "matrix", "stroking_color", "non_stroking_color", "ncs",
    "stroking_pattern", "non_stroking_pattern", "page_number",
}


@pytest.fixture(scope="module")
def pdf():
    with api.open(make_pdf([PAGE1, PAGE2])) as doc:
        yield doc


def written_chars(spec: dict, page_index: int) -> list:
    """(text, x0, top, x1, bottom, doctop) of every char the spec writes,
    in content order: advance widths from the writer's width table, the
    glyph box from its font ascent/descent."""
    out = []
    for t in spec["texts"]:
        size = t["size"]
        top = t["top"] + (FONT_ASCENT - FONT_DESCENT) / 1000 * size - size
        x = t["x"]
        for ch in t["text"]:
            w = glyph_width(ch) * size / 1000
            out.append((ch, x, top, x + w, top + size,
                        top + sum(HEIGHTS[:page_index])))
            x += w
    return out


def overlaps(box, bbox) -> bool:
    w = min(box[2], bbox[2]) - max(box[0], bbox[0])
    h = min(box[3], bbox[3]) - max(box[1], bbox[1])
    return w >= 0 and h >= 0 and w + h > 0


def clipped(c, bbox):
    text, x0, top, x1, bottom, doctop = c
    new_top = max(top, bbox[1])
    return (text, max(x0, bbox[0]), new_top, min(x1, bbox[2]),
            min(bottom, bbox[3]), doctop + new_top - top)


def boxes(chars) -> list:
    return [(c["text"], c["x0"], c["top"], c["x1"], c["bottom"], c["doctop"])
            for c in chars]


def approx_boxes(expected) -> list:
    return [(t, *(pytest.approx(v, abs=1e-6) for v in rest))
            for t, *rest in expected]


def test_page_chars_are_the_written_chars(pdf):
    for i, spec in enumerate((PAGE1, PAGE2)):
        assert boxes(pdf.pages[i].chars) == approx_boxes(written_chars(spec, i))


def test_char_record_keys(pdf):
    for c in pdf.pages[0].chars:
        assert set(c) == CHAR_KEYS
        assert c["object_type"] == "char" and c["page_number"] == 1


def test_crop_clips_chars_and_objects(pdf):
    page = pdf.pages[0]
    cropped = page.crop(BBOX)
    exp = [clipped(c, BBOX) for c in written_chars(PAGE1, 0)
           if overlaps(c[1:5], BBOX)]
    assert "".join(c[0] for c in exp) == "Alpha betaGBoldBold"
    assert boxes(cropped.chars) == approx_boxes(exp)
    for c in cropped.chars:
        assert c["width"] == pytest.approx(c["x1"] - c["x0"])
        assert c["height"] == pytest.approx(c["bottom"] - c["top"])
    # the rect's lower part is cut off; no grid line or curve overlaps
    (rect,) = cropped.rects
    assert (rect["x0"], rect["top"], rect["x1"], rect["bottom"]) == (
        70.0, 150.0, 200.0, 160.0)
    assert cropped.lines == [] and cropped.curves == []
    assert cropped.bbox == BBOX


def test_crop_shifts_doctop_with_top(pdf):
    """Page 2 sits below page 1, so its doctop = top + 792; a crop through
    its text row moves both by the same amount."""
    bbox = (0.0, 75.0, 612.0, 700.0)
    exp = [clipped(c, bbox) for c in written_chars(PAGE2, 1)]
    assert exp[0][2] == 75.0 and exp[0][5] == pytest.approx(792 + 75.0)
    assert boxes(pdf.pages[1].crop(bbox).chars) == approx_boxes(exp)


def test_within_and_outside_bbox(pdf):
    page = pdf.pages[0]
    chars = written_chars(PAGE1, 0)

    def inside(c):
        return (c[1] >= BBOX[0] and c[3] <= BBOX[2] and c[2] >= BBOX[1]
                and c[4] <= BBOX[3])

    within = page.within_bbox(BBOX)
    assert boxes(within.chars) == approx_boxes([c for c in chars if inside(c)])
    assert "".join(c["text"] for c in within.chars) == "Alpha betaBoldBold"
    assert within.rects == []  # the rect crosses the bbox's bottom edge
    outside = page.outside_bbox(BBOX)
    assert boxes(outside.chars) == approx_boxes(
        [c for c in chars if not overlaps(c[1:5], BBOX)])
    assert "".join(c["text"] for c in outside.chars) == "amma" + "".join(
        GRID[j][i] for j in range(2) for i in range(2))
    assert len(outside.lines) == 6 and len(outside.curves) == 1
    assert outside.rects == []
    assert outside.bbox == page.bbox


def test_dedupe_chars_halves_the_doubled_run(pdf):
    page = pdf.pages[0]
    chars = written_chars(PAGE1, 0)
    # the second "Bold" run starts after "Alpha beta", "Gamma", "Bold"
    first = len("Alpha beta") + len("Gamma") + len("Bold")
    exp = chars[:first] + chars[first + len("Bold"):]
    deduped = page.dedupe_chars().chars
    assert boxes(deduped) == approx_boxes(exp)
    assert [c["text"] for c in page.chars].count("B") == 2
    assert [c["text"] for c in deduped].count("B") == 1
    assert utils.dedupe_chars(page.chars) == deduped


def test_table_extract_on_a_cropped_page(pdf):
    cropped = pdf.pages[0].crop((60.0, 390.0, 290.0, 470.0))
    (table,) = cropped.find_tables()
    assert table.bbox == (XS[0], YS[0], XS[-1], YS[-1])
    assert table.extract() == GRID
    assert cropped.extract_tables() == [GRID]


def test_utils_text_helpers_match_the_page(pdf):
    for page in pdf.pages:
        chars = page.chars
        assert utils.extract_text(chars) == page.extract_text()
        assert utils.extract_text_simple(chars) == page.extract_text_simple()
        assert utils.extract_words(chars) == page.extract_words()
    assert utils.collate_line(pdf.pages[1].chars) == "Page two"
    assert pdf.pages[1].extract_text() == "Page two"


def test_filter_sees_the_accessor_records(pdf):
    """``filter`` hands its predicate the records the accessors return
    (the reference FilteredPage filters ``parent.objects`` records): they
    carry page_number and no internal char_index."""
    page = pdf.pages[0]
    seen = []
    kept = page.filter(lambda o: seen.append(o) or True)
    objs = page.chars + page.lines + page.rects + page.curves
    assert sorted(map(repr, seen)) == sorted(map(repr, objs))
    assert kept.chars == page.chars and kept.lines == page.lines

    same = page.filter(lambda o: o["page_number"] == 1)
    assert same.chars == page.chars and same.rects == page.rects
    assert page.filter(lambda o: "char_index" not in o).chars == page.chars

    left = page.filter(lambda o: o["x0"] < 100)
    assert [c["text"] for c in left.chars] == [
        c["text"] for c in page.chars if c["x0"] < 100]
    assert left.rects == page.rects and left.curves == []
