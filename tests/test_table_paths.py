"""Words and tables on the parser buffers, checked from in-repo inputs.

Every page comes from ``kernel.pdfgen.make_pdf`` (or, for colored text, a
hand-written PDF), and every expected cell, word and text is derived from
the geometry the test wrote: lattices ruled by lines (split and jittered),
rects (one per cell, edges jittered in pairs) and curves (L-shaped
polylines plus an oblique tail), and an unruled stream table. The plan
route (``plans.extract._payload_to_*``) must match the facade
(``api.Page``) on the same payload, and each plan call must parse its
payload exactly once.
"""

import pandas as pd
import pytest

from pdfplumber_spark import api
from pdfplumber_spark.kernel import pdfparse
from pdfplumber_spark.kernel import tables as T
from pdfplumber_spark.kernel.pdfgen import FONT_ASCENT, FONT_DESCENT, glyph_width, make_pdf
from pdfplumber_spark.kernel.words import WordSettings
from pdfplumber_spark.plans import extract as X
from pdfplumber_spark.schemas import TABLES_SCHEMA, WORDS_SCHEMA

XS = [72.0, 172.0, 272.0, 372.0]
YS = [100.0, 130.0, 160.0]
SIZE = 10


def cell_text(i, j):
    return f"r{j}c{i}"


def lattice(kind: str) -> bytes:
    """A 3x2 grid at XS x YS ruled by ``kind``, one word per cell."""
    page = {"width": 612, "height": 792, "lines": [], "rects": [], "curves": [],
            "texts": [{"x": XS[i] + 4, "top": YS[j] + 8, "size": SIZE,
                       "text": cell_text(i, j)}
                      for j in range(len(YS) - 1) for i in range(len(XS) - 1)]}
    if kind == "lines":
        for k, x in enumerate(XS):  # split verticals: gaps up to the join
            gap = 3.0 if k == 1 else 1.5  # tolerance (3, inclusive) join
            page["lines"].append({"x0": x, "top": YS[0], "x1": x, "bottom": YS[0] + 20})
            page["lines"].append({"x0": x, "top": YS[0] + 20 + gap, "x1": x, "bottom": YS[-1]})
        for y in YS:  # two overlapping halves 1pt apart snap to y
            page["lines"].append({"x0": XS[0], "top": y - 0.5, "x1": 250.0, "bottom": y - 0.5})
            page["lines"].append({"x0": 200.0, "top": y + 0.5, "x1": XS[-1], "bottom": y + 0.5})
    elif kind == "rects":
        # inner sides pulled 0.5pt into the cell: each shared ruling is a
        # pair at +-0.5 that snaps to its mean, and the 1pt gaps join
        nx, ny = len(XS) - 1, len(YS) - 1
        for i in range(nx):
            for j in range(ny):
                page["rects"].append({
                    "x0": XS[i] + (0.5 if i else 0), "top": YS[j] + (0.5 if j else 0),
                    "x1": XS[i + 1] - (0.5 if i + 1 < nx else 0),
                    "bottom": YS[j + 1] - (0.5 if j + 1 < ny else 0),
                })
    else:
        for j in range(len(YS) - 1):  # row ruling + right side of the row
            page["curves"].append({"pts": [(XS[0], YS[j]), (XS[-1], YS[j]), (XS[-1], YS[j + 1])]})
        page["curves"].append(  # bottom ruling + an oblique tail
            {"pts": [(XS[-1], YS[-1]), (XS[0], YS[-1]), (XS[0] - 9, YS[-1] + 9)]})
        for x in XS[:-1]:
            page["curves"].append({"pts": [(x, YS[0]), (x, YS[-1]), (x + 9, YS[-1] + 9)]})
    return make_pdf([page])


def grid_cells():
    return sorted(
        (XS[i], YS[j], XS[i + 1], YS[j + 1])
        for i in range(len(XS) - 1) for j in range(len(YS) - 1)
    )


def facade_table_rows(url, payload, **ts):
    """The facade's tables in the plan's TABLES_SCHEMA row form."""
    out = []
    with api.open(payload) as pdf:
        for p in pdf.pages:
            for ti, t in enumerate(p.find_tables(ts)):
                for ri, (cells, texts) in enumerate(zip(t.rows, t.extract())):
                    for ci, (cell, txt) in enumerate(zip(cells, texts)):
                        out.append((url, p.page_number, ti, ri, ci, txt,
                                    *(cell or (None,) * 4)))
    return out


def plan_words(payload, **kw):
    frames = X._payload_to_word_frames("u", payload, WordSettings(**kw))
    assert len(frames) <= 1  # one frame per payload
    return [r for f in frames for r in f.to_dict("records")]


def facade_words(payload, **kw):
    cols = [f.name for f in WORDS_SCHEMA.fields][3:]
    with api.open(payload) as pdf:
        return [
            {"url": "u", "page_number": p.page_number, "word_index": wi,
             **{c: w[c] for c in cols}}
            for p in pdf.pages for wi, w in enumerate(p.extract_words(**kw))
        ]


@pytest.mark.parametrize("kind", ["lines", "rects", "curves"])
def test_lattice_cells_and_text_from_geometry(kind):
    rows = X._payload_to_table_rows("u", lattice(kind))
    assert [r[:5] for r in rows] == [
        ("u", 1, 0, j, i) for j in range(len(YS) - 1) for i in range(len(XS) - 1)
    ]
    assert sorted(tuple(r[6:]) for r in rows) == grid_cells()
    assert {tuple(r[6:]): r[5] for r in rows} == {
        (XS[i], YS[j], XS[i + 1], YS[j + 1]): cell_text(i, j)
        for i in range(len(XS) - 1) for j in range(len(YS) - 1)
    }


@pytest.mark.parametrize("kind,n_cells", [("lines", 6), ("rects", 0), ("curves", 0)])
def test_lines_strict_keeps_only_line_rulings(kind, n_cells):
    rows = X._payload_to_table_rows(
        "u", lattice(kind), vertical_strategy="lines_strict",
        horizontal_strategy="lines_strict")
    assert len(rows) == n_cells


def test_explicit_lines_rebuild_the_grid():
    """Numeric explicit lines on an unruled page span the page box."""
    rows = X._payload_to_table_rows(
        "u", lattice("rects"), vertical_strategy="explicit",
        horizontal_strategy="explicit", explicit_vertical_lines=XS,
        explicit_horizontal_lines=YS)
    assert sorted(tuple(r[6:]) for r in rows) == grid_cells()


def stream_page():
    cols, tops = [72.0, 200.0, 330.0], [110.0 + 18 * j for j in range(5)]
    texts = [{"x": x, "top": t, "size": SIZE, "text": f"r{j}c{i}"}
             for j, t in enumerate(tops) for i, x in enumerate(cols)]
    return make_pdf([{"width": 612, "height": 792, "texts": texts}]), cols, tops


def test_stream_table_text_strategy():
    """Unruled columns: phantom v edges at each column's left x plus the
    right end of the widest row, h edges at every row's glyph top and
    bottom; so text rows alternate with empty gap rows."""
    payload, cols, tops = stream_page()
    rows = X._payload_to_table_rows(
        "u", payload, vertical_strategy="text", horizontal_strategy="text")
    width = sum(glyph_width(c) for c in "r0c0") * SIZE / 1000
    # the writer puts the baseline ascent below ``top``; the glyph box
    # spans descent .. descent + size above the baseline
    glyph_top = [t + (FONT_ASCENT - FONT_DESCENT) / 1000 * SIZE - SIZE for t in tops]
    ys = sorted(glyph_top + [g + SIZE for g in glyph_top])
    xs = cols + [cols[-1] + width]
    assert {r[2] for r in rows} == {0}
    n_rows = len(ys) - 1
    assert [r[3:5] for r in rows] == [(j, i) for j in range(n_rows) for i in range(3)]
    for r in rows:
        j, i = r[3], r[4]
        assert r[6:] == pytest.approx((xs[i], ys[j], xs[i + 1], ys[j + 1]))
        assert r[5] == (f"r{j // 2}c{i}" if j % 2 == 0 else "")


@pytest.mark.parametrize("kind", ["lines", "rects", "curves", "stream"])
@pytest.mark.parametrize("ts", [
    {},
    dict(vertical_strategy="lines_strict", horizontal_strategy="lines_strict"),
    dict(vertical_strategy="text", horizontal_strategy="text"),
    dict(vertical_strategy="explicit", explicit_vertical_lines=XS),
    dict(horizontal_strategy="text", snap_tolerance=0),
], ids=["lines", "lines_strict", "text", "explicit_v", "text_h_nosnap"])
def test_plan_tables_match_facade(kind, ts):
    payload = stream_page()[0] if kind == "stream" else lattice(kind)
    assert X._payload_to_table_rows("u", payload, **ts) == facade_table_rows(
        "u", payload, **ts)


def colored_pdf() -> bytes:
    """Two 2-char runs, the second in red, touching on one line: one word
    unless non_stroking_color splits the words (every glyph 5pt wide)."""
    content = (b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (ab) Tj ET\n"
               b"1 0 0 rg BT /F1 10 Tf 1 0 0 1 82 700 Tm (cd) Tj ET")
    objs = [
        b"<</Length %d>>\nstream\n%s\nendstream" % (len(content), content),
        b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica/FirstChar 97"
        b"/LastChar 100/Widths[500 500 500 500]/FontDescriptor<</Type"
        b"/FontDescriptor/FontName/Helvetica/Flags 32/Ascent 800/Descent -200"
        b"/FontBBox[0 -200 1000 800]>>>>",
        b"<</Type/Page/Parent 4 0 R/MediaBox[0 0 612 792]"
        b"/Resources<</Font<</F1 2 0 R>>>>/Contents 1 0 R>>",
        b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
        b"<</Type/Catalog/Pages 4 0 R>>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n" % i + o + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    out += b"".join(b"%010d 00000 n \n" % off for off in offs)
    out += b"trailer\n<</Size %d/Root 5 0 R>>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref)
    return bytes(out)


def test_style_attr_splits_words():
    plain = plan_words(colored_pdf())
    styled = plan_words(colored_pdf(), extra_attrs=("non_stroking_color",))
    assert [(w["text"], w["x0"], w["x1"]) for w in plain] == [("abcd", 72.0, 92.0)]
    assert [(w["text"], w["x0"], w["x1"]) for w in styled] == [
        ("ab", 72.0, 82.0), ("cd", 82.0, 92.0)]


@pytest.mark.parametrize("payload", [
    lattice("lines"), lattice("curves"), stream_page()[0], colored_pdf(),
], ids=["lines", "curves", "stream", "colored"])
@pytest.mark.parametrize("kw", [
    {}, {"extra_attrs": ("fontname", "size")},
    {"extra_attrs": ("non_stroking_color",)},
], ids=["default", "fontname,size", "non_stroking_color"])
def test_plan_words_match_facade(payload, kw):
    assert plan_words(payload, **kw) == facade_words(payload, **kw)


def test_lattice_words_from_geometry():
    words = plan_words(lattice("rects"))
    assert sorted((w["text"], w["x0"]) for w in words) == sorted(
        (cell_text(i, j), XS[i] + 4)
        for i in range(len(XS) - 1) for j in range(len(YS) - 1))


def test_each_plan_call_parses_once(monkeypatch):
    """One parse per payload, style-free unless a style column is asked
    for; the char/object frames are never built."""
    styles = []
    real = pdfparse.parse_pdf

    def counting(data, style=True, password=""):
        styles.append(style)
        return real(data, style=style, password=password)

    def no_frames(*a, **k):
        raise AssertionError("pdf_to_frames called")

    monkeypatch.setattr(pdfparse, "parse_pdf", counting)
    monkeypatch.setattr(X, "pdf_to_frames", no_frames)
    payload = lattice("lines")
    for call, want in [
        (lambda: X._payload_to_word_frames("u", payload, WordSettings()), False),
        (lambda: X._payload_to_table_rows("u", payload), False),
        (lambda: X._payload_to_table_rows(
            "u", payload, vertical_strategy="text", horizontal_strategy="text"), False),
        (lambda: X._payload_to_word_frames(
            "u", payload, WordSettings(extra_attrs=("non_stroking_color",))), True),
    ]:
        styles.clear()
        call()
        assert styles == [want]


def test_debug_tablefinder_from_geometry():
    """Merged edges are the grid rulings, one vertex per crossing."""
    with api.open(lattice("lines")) as pdf:
        dbg = pdf.pages[0].debug_tablefinder()
    h = sorted((e["top"], e["x0"], e["x1"]) for e in dbg.edges if e["orientation"] == "h")
    v = sorted((e["x0"], e["top"], e["bottom"]) for e in dbg.edges if e["orientation"] == "v")
    assert h == [(y, XS[0], XS[-1]) for y in YS]
    assert v == [(x, YS[0], YS[-1]) for x in XS]
    assert sorted(dbg.intersections) == sorted((x, y) for x in XS for y in YS)
    assert sorted(dbg.cells) == grid_cells()
    assert [sorted(t.cells) for t in dbg.tables] == [grid_cells()]


def test_merge_edges_moves_dependent_attrs():
    """Snap moves an h edge with its doctop/y0/y1 (move_object); a joined
    v edge's bottom grows with its height and y0 (resize_object)."""
    def line(x0, x1, top, bottom, doctop):
        return {"x0": x0, "x1": x1, "top": top, "bottom": bottom,
                "width": x1 - x0, "height": bottom - top, "doctop": doctop,
                "y0": 792 - bottom, "y1": 792 - top,
                "orientation": "h" if top == bottom else "v",
                "object_type": "line"}

    edges = pd.DataFrame([
        line(10.0, 50.0, 100.0, 100.0, 900.0),
        line(52.0, 90.0, 101.0, 101.0, 901.0),
        line(200.0, 200.0, 0.0, 40.0, 800.0),
        line(200.0, 200.0, 41.0, 80.0, 841.0),
    ])
    got = T.merge_edges_frame(edges, 3, 3, 3, 3).to_dict("records")
    assert got == [
        {"x0": 10.0, "x1": 90.0, "top": 100.5, "bottom": 100.5, "width": 80.0,
         "height": 0.0, "doctop": 900.5, "y0": 691.5, "y1": 691.5,
         "orientation": "h", "object_type": "line"},
        {"x0": 200.0, "x1": 200.0, "top": 0.0, "bottom": 80.0, "width": 0.0,
         "height": 80.0, "doctop": 800.0, "y0": 712.0, "y1": 792.0,
         "orientation": "v", "object_type": "line"},
    ]


def test_join_runs_stay_within_a_line():
    """A long ruling above does not bridge a 10pt gap in the one below."""
    edges = pd.DataFrame([
        {"x0": x0, "x1": x1, "top": y, "bottom": y, "width": x1 - x0,
         "height": 0.0, "orientation": "h", "object_type": "line"}
        for x0, x1, y in ((0.0, 500.0, 100.0), (0.0, 50.0, 130.0), (60.0, 90.0, 130.0))
    ])
    got = T.merge_edges_frame(edges, 3, 3, 3, 3)
    assert got[["x0", "x1", "top"]].values.tolist() == [
        [0.0, 500.0, 100.0], [0.0, 50.0, 130.0], [60.0, 90.0, 130.0]]


def test_cell_text_half_open_boxes():
    """A char belongs to the cell holding its centre, boxes half-open
    (``table.py:404-410``): a centre on a shared side goes right/down, one
    on the table's far side to no cell."""
    def char(text, cx, cy):
        return {"text": text, "x0": cx - 2.0, "x1": cx + 2.0, "top": cy - 4.0,
                "bottom": cy + 4.0, "upright": 1, "size": 8.0}

    cells = [(0.0, 0.0, 10.0, 10.0), (10.0, 0.0, 20.0, 10.0),
             (0.0, 10.0, 10.0, 20.0), (10.0, 10.0, 20.0, 20.0)]
    chars = pd.DataFrame([char("a", 5.0, 5.0), char("b", 10.0, 5.0),
                          char("c", 5.0, 10.0), char("d", 20.0, 15.0)])
    assert T.extract_table_text(cells, chars) == [["a", "b"], ["c", ""]]


def test_tables_schema_order():
    rows = X._payload_to_table_rows("u", lattice("lines"))
    assert all(len(r) == len(TABLES_SCHEMA.fields) for r in rows)
