"""The single-document facade (``api.Page``) over the parser's objects,
checked from in-repo inputs.

Every page comes from ``kernel.pdfgen.make_pdf``, and every expected char
box, clip, edge, text and table cell is derived from the geometry the test
wrote (the writer's glyph widths and font box), never from engine output:
derived pages (``crop``, ``within_bbox``, ``outside_bbox``, ``filter``,
``dedupe_chars``) over chars, lines, rects, curves and images, ``dedupe_chars``
on a run written twice at the same position, ``page.edges``,
``Table.extract`` and ``debug_tablefinder`` on cropped pages, the char
record keys, line records that keep the parser's values, the records
``filter`` passes its predicate, the objects plan's rows against the
page's records, and the ``utils`` text helpers against the page's own.
"""

import math

import pytest

from pdfplumber_spark import api, utils
from pdfplumber_spark.kernel import pdfgen
from pdfplumber_spark.kernel.pdfgen import (
    FONT_ASCENT,
    FONT_DESCENT,
    glyph_width,
    make_pdf,
)
from pdfplumber_spark.plans import extract as X
from pdfplumber_spark.schemas import OBJECTS_SCHEMA

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


def test_utils_char_helpers_read_only_the_keys_they_use():
    """``collate_line`` reads text, x0 and x1 of each record and
    ``extract_text_simple`` doctop too (``text.py:761-781``): records with
    only those keys work. "b" starts 6 after "a" ends, past the default
    x tolerance of 3; "c" touches "b"; the second line is 20 lower."""
    line = [{"text": "a", "x0": 0.0, "x1": 4.0},
            {"text": "c", "x0": 14.0, "x1": 18.0},
            {"text": "b", "x0": 10.0, "x1": 14.0}]
    assert utils.collate_line(line) == "a bc"
    two = [dict(c, doctop=100.0) for c in line] + [
        {"text": "d", "x0": 0.0, "x1": 4.0, "doctop": 120.0}]
    assert utils.extract_text_simple(two) == "a bc\nd"
    boxed = [dict(c, top=c["doctop"], bottom=c["doctop"] + 8) for c in two]
    assert utils.extract_text_simple(boxed) == "a bc\nd"


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


# a 200x200 page with a text run and one image at (120, 120)-(160, 160)
IMAGE = {"x": 120, "top": 120, "w": 40, "h": 40, "pw": 4, "ph": 4,
         "channels": 3, "seed": 1, "format": "flate"}
SMALL = {"width": 200, "height": 200, "images": [IMAGE],
         "texts": [{"x": 10, "top": 10, "size": SIZE, "text": "Hi there"}]}
IMAGE_BOX = (120.0, 120.0, 160.0, 160.0)


@pytest.fixture(scope="module")
def small():
    with api.open(make_pdf([SMALL])) as doc:
        yield doc.pages[0]


def box(o) -> tuple:
    return (o["x0"], o["top"], o["x1"], o["bottom"])


def clip_box(b, bbox) -> tuple:
    return (max(b[0], bbox[0]), max(b[1], bbox[1]),
            min(b[2], bbox[2]), min(b[3], bbox[3]))


def test_derived_pages_mask_and_clip_images(small):
    (image,) = small.images
    assert box(image) == IMAGE_BOX
    assert (image["y0"], image["y1"]) == (200 - 160, 200 - 120)
    away = (0.0, 0.0, 100.0, 100.0)
    assert small.crop(away).images == []
    assert small.within_bbox(away).images == []
    # image records hold a fresh stream wrapper each: compare reprs
    assert repr(small.outside_bbox(away).images) == repr(small.images)
    across = (100.0, 100.0, 200.0, 140.0)
    (cut,) = small.crop(across).images
    exp = clip_box(IMAGE_BOX, across)
    assert box(cut) == exp == (120.0, 120.0, 160.0, 140.0)
    assert (cut["width"], cut["height"]) == (exp[2] - exp[0], exp[3] - exp[1])
    assert cut["doctop"] == exp[1]
    assert (cut["y0"], cut["y1"]) == (image["y0"], image["y1"])
    assert small.within_bbox(across).images == []


def test_filter_sees_image_records(small):
    only = small.filter(lambda o: o["object_type"] == "image")
    assert repr(only.images) == repr(small.images) and only.chars == []
    rest = small.filter(lambda o: o["object_type"] != "image")
    assert rest.images == [] and rest.chars == small.chars


def test_dedupe_chars_keeps_the_derived_bbox(small):
    bbox = (0.0, 0.0, 100.0, 100.0)
    cropped = small.crop(bbox)
    deduped = cropped.dedupe_chars()
    assert deduped.bbox == bbox and deduped.width == 100.0
    text = deduped.extract_text(layout=True)
    assert text == cropped.extract_text(layout=True)
    # layout rows are the crop's width over the default x_density 7.25
    assert {len(row) for row in text.split("\n")} == {round(100 / 7.25)}
    assert "Hi there" in text


def content_page(monkeypatch, content: bytes) -> bytes:
    """A 200x200 page whose content stream is ``content``."""
    monkeypatch.setattr(pdfgen, "_content_stream", lambda page: content)
    data = make_pdf([{"width": 200, "height": 200}])
    monkeypatch.undo()
    return data


# a tagged 0.5-wide ruling, an untagged 2-wide one, a rect and a curve
TAGGED = (b"/P <</MCID 3>> BDC 0.5 w 10 180 m 100 180 l S EMC\n"
          b"2 w 10 150 m 100 150 l S\n"
          b"20 20 30 40 re S\n"
          b"120 20 m 130 60 170 60 180 20 c S")
CURVE_EDGE_KEYS = {"object_type", "x0", "x1", "top", "doctop", "bottom",
                   "width", "height", "orientation"}


def edge_records(page) -> list:
    return [e for o in page.lines + page.rects + page.curves
            for e in utils.obj_to_edges(o)]


def test_line_records_keep_the_parser_values(monkeypatch):
    """A tagged 0.5-wide line next to an untagged 2-wide one: the records
    carry mcid 3 / None and linewidth 0.5 / 2 as written, not a frame's
    float column, and so do their edges."""
    with api.open(content_page(monkeypatch, TAGGED)) as pdf:
        page = pdf.pages[0]
        tagged, plain = page.lines
        assert box(tagged) == (10.0, 20.0, 100.0, 20.0)
        assert box(plain) == (10.0, 50.0, 100.0, 50.0)
        assert (tagged["mcid"], tagged["tag"], tagged["linewidth"]) == (
            3, "P", 0.5)
        assert plain["mcid"] is None and plain["tag"] is None
        assert type(tagged["mcid"]) is int and type(plain["linewidth"]) is int
        assert plain["linewidth"] == 2
        assert '"mcid": 3,' in page.to_json()

        edges = page.edges
        assert edges == edge_records(page)
        e_tagged, e_plain = edges[:2]
        assert e_tagged == dict(tagged, orientation="h")
        assert type(e_tagged["mcid"]) is int and e_plain["mcid"] is None
        assert type(e_plain["linewidth"]) is int
        # the 30x40 rect at (20, 20) bottom-up: top 200 - 60
        assert [box(e) for e in edges[2:6]] == [
            (20.0, 140.0, 50.0, 140.0), (20.0, 180.0, 50.0, 180.0),
            (20.0, 140.0, 20.0, 180.0), (50.0, 140.0, 50.0, 180.0)]
        assert all(e["page_number"] == 1 for e in edges[:6])
        assert [set(e) for e in edges[6:]] == [CURVE_EDGE_KEYS] * 3


def test_debug_tablefinder_moves_the_edge_records(monkeypatch):
    """The tagged ruling at top 20 and a ruling at top 21 snap to 20.5 and
    join: the survivor is the tagged ruling's record, moved as
    ``utils.move_object`` and grown as ``utils.resize_object`` move it,
    so it keeps its mcid and page_number."""
    with api.open(content_page(monkeypatch, TAGGED.replace(
            b"\n2 w", b"\n50 179 m 150 179 l S\n2 w", 1))) as pdf:
        page = pdf.pages[0]
        tagged, partner, plain = (utils.line_to_edge(o) for o in page.lines)
        assert (tagged["top"], partner["top"]) == (20.0, 21.0)
        dbg = page.debug_tablefinder()
    moved = utils.resize_object(utils.move_object(tagged, "v", 0.5), "x1",
                                partner["x1"])
    assert (moved["top"], moved["doctop"], moved["y0"], moved["y1"],
            moved["x1"], moved["width"]) == (20.5, 20.5, 179.5, 179.5,
                                             150.0, 140.0)
    h = [e for e in dbg.edges if e["orientation"] == "h"]
    assert h[:2] == [moved, utils.move_object(plain, "v", 0.0)]
    assert type(h[0]["mcid"]) is int and h[0]["page_number"] == 1


def test_page_edges_per_kind(pdf):
    """4 edges per rect (top, bottom, left, right), 1 per line, one per
    consecutive point pair of a curve: the record converters over the
    page's records."""
    edges = pdf.pages[0].edges
    assert edges == edge_records(pdf.pages[0])
    by_type = {}
    for e in edges:
        by_type.setdefault(e["object_type"], []).append(e)
    lines = PAGE1["lines"]
    assert [(e["orientation"], box(e)) for e in by_type["line"]] == [
        ("h" if ln["top"] == ln["bottom"] else "v",
         (ln["x0"], ln["top"], ln["x1"], ln["bottom"])) for ln in lines]
    r = PAGE1["rects"][0]
    assert [(e["orientation"], box(e)) for e in by_type["rect_edge"]] == [
        ("h", (r["x0"], r["top"], r["x1"], r["top"])),
        ("h", (r["x0"], r["bottom"], r["x1"], r["bottom"])),
        ("v", (r["x0"], r["top"], r["x0"], r["bottom"])),
        ("v", (r["x1"], r["top"], r["x1"], r["bottom"])),
    ]
    pts = PAGE1["curves"][0]["pts"]
    # both segments are oblique
    assert [(e["orientation"], box(e)) for e in by_type["curve_edge"]] == [
        (None, (min(a[0], b[0]), min(a[1], b[1]), max(a[0], b[0]),
                max(a[1], b[1]))) for a, b in zip(pts, pts[1:])]
    assert len(edges) == len(lines) + 4 + len(pts) - 1
    # the line and rect edges carry the page number; a curve edge has the
    # reference's 9 keys
    assert all(e["page_number"] == 1
               for e in by_type["line"] + by_type["rect_edge"])
    assert [set(e) for e in by_type["curve_edge"]] == [CURVE_EDGE_KEYS] * 2


def test_crop_clips_lines_rects_and_curves(pdf):
    page = pdf.pages[0]
    bbox = (150.0, 140.0, 450.0, 640.0)
    cropped = page.crop(bbox)
    written = [(ln["x0"], ln["top"], ln["x1"], ln["bottom"])
               for ln in PAGE1["lines"]]
    assert [box(o) for o in cropped.lines] == [
        clip_box(b, bbox) for b in written if b[2] >= bbox[0]]
    r = PAGE1["rects"][0]
    (rect,) = cropped.rects
    assert box(rect) == clip_box(
        (r["x0"], r["top"], r["x1"], r["bottom"]), bbox) == (
        150.0, 150.0, 200.0, 180.0)
    pts = PAGE1["curves"][0]["pts"]
    (curve,) = cropped.curves
    cbox = (min(x for x, _ in pts), min(y for _, y in pts),
            max(x for x, _ in pts), max(y for _, y in pts))
    assert box(curve) == clip_box(cbox, bbox) == (300.0, 600.0, 450.0, 640.0)
    assert curve["pts"] == [pytest.approx(p) for p in pts]  # pts stay
    for o in cropped.lines + [rect, curve]:
        assert o["width"] == o["x1"] - o["x0"]
        assert o["height"] == o["bottom"] - o["top"]
        assert o["doctop"] == o["top"]  # page 1, no top clipped


def test_debug_tablefinder_on_a_cropped_grid(pdf):
    """A crop through the grid's middle column: the h rulings end at the
    crop, the right v ruling is gone, so one column of cells is left."""
    bbox = (60.0, 390.0, 222.0, 470.0)
    cropped = pdf.pages[0].crop(bbox)
    dbg = cropped.debug_tablefinder()
    assert sorted((e["orientation"], box(e)) for e in dbg.edges) == sorted(
        [("h", (XS[0], y, bbox[2], y)) for y in YS]
        + [("v", (x, YS[0], x, YS[-1])) for x in XS[:2]])
    (table,) = dbg.tables
    assert table.bbox == (XS[0], YS[0], XS[1], YS[-1])
    assert table.extract() == [[row[0]] for row in GRID]
    assert cropped.extract_tables() == [[[row[0]] for row in GRID]]


def _stored(v):
    """A value as an ``OBJECTS_SCHEMA`` column stores it: NaN as null,
    sequences as lists."""
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (list, tuple)):
        return [_stored(x) for x in v]
    return v


@pytest.mark.parametrize("laparams", [None, {}])
def test_objects_rows_are_the_page_records(laparams):
    """``_payload_to_objects`` writes, per page and kind in ``obj_index``
    order, the ``page.objects`` records projected to ``OBJECTS_SCHEMA``
    (pts as {x, y}); under laparams chars come in reading order, which on
    the second page is not the order the runs were written in."""
    spec = dict(PAGE1, images=[IMAGE])
    upward = {"width": 612, "height": 792, "texts": [
        {"x": 72, "top": 300, "size": SIZE, "text": "Written first"},
        {"x": 72, "top": 100, "size": SIZE, "text": "Read first"}]}
    data = make_pdf([spec, upward])
    cols = [f.name for f in OBJECTS_SCHEMA.fields]
    (frame,) = X._payload_to_objects("u", data, laparams=laparams)
    rows = [{c: _stored(v) for c, v in r.items()}
            for r in frame.to_dict("records")]
    assert list(frame.columns) == cols
    got, want = {}, {}
    for r in sorted(rows, key=lambda r: r["obj_index"]):
        assert r["url"] == "u"
        got.setdefault((r["page_number"], r["object_type"]), []).append(
            {c: r[c] for c in cols[4:]})
    with api.open(data, laparams=laparams) as pdf:
        for page in pdf.pages:
            for kind, recs in page.objects.items():
                want[(page.page_number, kind)] = [
                    {c: ([{"x": x, "y": y} for x, y in o["pts"]]
                         if c == "pts" and o.get(c) is not None
                         else _stored(o.get(c))) for c in cols[4:]}
                    for o in recs]
    assert got == want
    kinds = {k for _, k in got}
    assert {"char", "line", "rect", "curve", "image"} <= kinds
    assert ("textboxhorizontal" in kinds) == (laparams is not None)
    text = "".join(c["text"] for c in got[(2, "char")])
    assert text == ("Read firstWritten first" if laparams is not None
                    else "Written firstRead first")
    (image,) = got[(1, "image")]
    assert box(image) == (IMAGE["x"], IMAGE["top"], IMAGE["x"] + IMAGE["w"],
                          IMAGE["top"] + IMAGE["h"])
