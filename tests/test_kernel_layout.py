import numpy as np
import pytest

from genchars import chars_frame, random_chars
from pdfplumber_spark.kernel.layout import (
    page_text_ca,
    render_directions,
    search_text,
    simple_text,
)
from pdfplumber_spark.kernel.words import CharArrays, WordSettings
from reforacle import REFERENCE, ref_module


@pytest.mark.parametrize("seed", range(10))
def test_extract_text_differential(seed):
    text = ref_module("utils.text")
    rng = np.random.default_rng(seed)
    rows = random_chars(rng, n_lines=int(rng.integers(2, 10)))
    exp = text.extract_text([dict(r) for r in rows])
    got = page_text_ca(CharArrays(chars_frame(rows)), WordSettings())
    assert got == exp


@pytest.mark.parametrize("seed", range(10))
def test_extract_text_layout_differential(seed):
    text = ref_module("utils.text")
    rng = np.random.default_rng(500 + seed)
    rows = random_chars(rng, n_lines=int(rng.integers(2, 8)))
    w = 612.0
    h = 792.0
    exp = text.extract_text(
        [dict(r) for r in rows],
        layout=True,
        layout_bbox=(0, 0, w, h),
        layout_width=w,
        layout_height=h,
    )
    got = page_text_ca(
        CharArrays(chars_frame(rows)),
        WordSettings(),
        layout=True,
        layout_bbox=(0, 0, w, h),
        layout_width=w,
        layout_height=h,
    )
    assert got == exp


@pytest.mark.parametrize("seed", range(4))
def test_extract_text_layout_shift_density(seed):
    text = ref_module("utils.text")
    rng = np.random.default_rng(900 + seed)
    rows = random_chars(rng, n_lines=4)
    kwargs = dict(
        layout=True,
        layout_bbox=(50, 60, 500, 700),
        layout_width=450,
        layout_height=640,
        x_shift=50,
        y_shift=60,
        x_density=5.0,
        y_density=10.0,
    )
    exp = text.extract_text([dict(r) for r in rows], **kwargs)
    got = page_text_ca(CharArrays(chars_frame(rows)), WordSettings(), **kwargs)
    assert got == exp


@pytest.mark.parametrize("seed", range(6))
def test_extract_text_simple_differential(seed):
    text = ref_module("utils.text")
    rng = np.random.default_rng(1500 + seed)
    rows = random_chars(rng, n_lines=5)
    exp = text.extract_text_simple([dict(r) for r in rows])
    got = simple_text(CharArrays(chars_frame(rows)))
    assert got == exp


@pytest.mark.parametrize(
    "dirs",
    [
        ("ttb", "ltr"), ("ttb", "rtl"), ("btt", "ltr"), ("btt", "rtl"),
        ("ltr", "ttb"), ("rtl", "ttb"), ("ltr", "btt"), ("rtl", "btt"),
    ],
)
def test_render_directions_differential(dirs):
    text = ref_module("utils.text")
    ld, cd = dirs
    base = "abc\nde\nfghi"
    tm = text.TextMap([(c, None) for c in base], line_dir_render=ld, char_dir_render=cd)
    assert render_directions(base, ld, cd) == tm.as_string


@pytest.mark.parametrize("seed", range(4))
def test_search_differential(seed):
    text = ref_module("utils.text")
    rng = np.random.default_rng(2500 + seed)
    rows = random_chars(rng, n_lines=5)
    dicts = [dict(r) for r in rows]
    tm = text.chars_to_textmap(dicts, layout=True, layout_width=612, layout_height=792)
    exp = tm.search(r"[a-zA-Z]{3,}", return_chars=False, return_groups=False)

    df = chars_frame(rows)
    from pdfplumber_spark.kernel.layout import page_textmap

    ca = CharArrays(df)
    rendered, prov = page_textmap(
        ca, WordSettings(), layout=True, layout_bbox=ca.bbox(),
        layout_width=612, layout_height=792,
    )
    assert rendered == tm.as_string
    got = search_text(rendered, prov, CharArrays(df), r"[a-zA-Z]{3,}")
    assert len(got) == len(exp)
    for i, e in enumerate(exp):
        assert got["text"].iloc[i] == e["text"]
        assert got["x0"].iloc[i] == pytest.approx(e["x0"])
        assert got["top"].iloc[i] == pytest.approx(e["top"])
        assert got["x1"].iloc[i] == pytest.approx(e["x1"])
        assert got["bottom"].iloc[i] == pytest.approx(e["bottom"])


def _frame_vs_buffer_texts(data: bytes, layout: bool, dedupe: bool):
    """Per-page text two ways: the frame route (pdf_to_frames ->
    CharArrays of the char frame -> dedupe_keep_mask -> page_text_ca) and
    the buffer route the extraction plan runs (_payload_to_text_rows)."""
    from pdfplumber_spark.kernel.pdfparse import pdf_to_frames
    from pdfplumber_spark.kernel.words import dedupe_keep_mask
    from pdfplumber_spark.plans.extract import _payload_to_text_rows

    frames = pdf_to_frames(data, style=False)
    chars = frames["chars"]
    slow = []
    for pn, w, h in frames["pages"][["page_number", "width", "height"]].itertuples(
        index=False
    ):
        sub = CharArrays(chars[chars["page_number"] == pn], ("fontname",))
        if dedupe:
            sub = sub.take(dedupe_keep_mask(
                (sub.extra["fontname"], sub.size, sub.upright, sub.text),
                sub.doctop, sub.x0,
            ))
        kwargs = {}
        if layout:
            kwargs = dict(
                layout=True, layout_bbox=(0, 0, float(w), float(h)),
                layout_width=float(w), layout_height=float(h),
            )
        slow.append((int(pn), page_text_ca(sub.select(()), WordSettings(), **kwargs),
                     sub.n))
    rows = _payload_to_text_rows("u", data, layout, dedupe)
    assert all(r[5] == "ok" for r in rows), rows
    fast = [(r[1], r[2], r[3]) for r in rows]
    return slow, fast


@pytest.mark.parametrize("layout", [False, True])
@pytest.mark.parametrize("dedupe", [False, True])
def test_layout_fast_path_byte_identical_pdfgen(layout, dedupe):
    """The extraction plan's buffer route (CharArrays straight from the
    parser, array dedupe) is byte-identical to the frame route, on an
    in-repo page with several lines and one overprinted (doubled) string."""
    from pdfplumber_spark.kernel.pdfgen import make_pdf

    texts = [
        {"x": 40, "top": 40, "size": 12, "text": "Quarterly report"},
        {"x": 40, "top": 60, "size": 10, "text": "Revenue grew by 12 percent"},
        {"x": 260, "top": 60, "size": 10, "text": "see table"},
        {"x": 40, "top": 76, "size": 10, "text": "Costs were flat"},
        {"x": 40, "top": 120, "size": 12, "text": "Bold heading"},
        {"x": 40.4, "top": 120, "size": 12, "text": "Bold heading"},
        {"x": 40, "top": 140, "size": 10, "text": "Closing line"},
    ]
    data = make_pdf([{"width": 400, "height": 300, "texts": texts}])
    slow, fast = _frame_vs_buffer_texts(data, layout, dedupe)
    assert fast == slow
    text = fast[0][1]
    if dedupe:
        assert "Bold heading" in text
        assert fast[0][2] == sum(len(t["text"]) for t in texts) - len("Bold heading")
    else:
        assert "Bold heading" not in text  # doubled chars garble it
        assert fast[0][2] == sum(len(t["text"]) for t in texts)
    assert "Revenue grew by 12 percent" in text


@pytest.mark.parametrize("layout", [False, True])
def test_dedupe_text_plan_does_not_group_on_the_dedupe_key(layout):
    """The dedupe text plan reads each char's fontname for the dedupe key,
    but default word settings group on no font: one line drawn right to
    left in two fonts reads left to right, as ``dedupe_chars()`` then
    ``extract_text`` and the plan without dedupe read it."""
    from pdfplumber_spark import api
    from pdfplumber_spark.kernel.pdfgen import make_pdf
    from pdfplumber_spark.plans.extract import _payload_to_text_rows

    data = make_pdf([{"width": 612, "height": 792, "texts": [
        {"x": 200, "top": 100, "size": 10, "text": "delta"},
        {"x": 140, "top": 100, "size": 10, "text": "beta", "font": "F2"},
        {"x": 72, "top": 100, "size": 10, "text": "alpha"},
    ]}])
    with api.open(data) as pdf:
        facade = pdf.pages[0].dedupe_chars().extract_text(layout=layout)
    ((_, _, deduped, *_),) = _payload_to_text_rows("u", data, layout, True)
    ((_, _, plain, *_),) = _payload_to_text_rows("u", data, layout, False)
    assert deduped == facade == plain
    assert " ".join(deduped.split()) == "alpha beta delta"


def test_layout_fast_path_byte_identical():
    """page_text_ca on parser buffers must be byte-identical to
    page_text_ca(layout=True) on the char frame's arrays — including the
    scotus reference golden."""
    from pdfplumber_spark.kernel.pdfparse import parse_pdf, pdf_to_frames

    data = open(
        f"{REFERENCE}/tests/pdfs/scotus-transcript-p1.pdf", "rb"
    ).read()
    frames = pdf_to_frames(data, style=False)
    chars = frames["chars"]
    meta = frames["pages"].iloc[0]
    slow = page_text_ca(
        CharArrays(chars[chars["page_number"] == 1]), WordSettings(), layout=True,
        layout_bbox=(0, 0, float(meta.width), float(meta.height)),
        layout_width=float(meta.width), layout_height=float(meta.height),
    )
    it = parse_pdf(data, style=False)[0]
    fast = page_text_ca(
        CharArrays.from_interp(it), WordSettings(), layout=True,
        layout_bbox=(0, 0, float(it.width), float(it.height)),
        layout_width=float(it.width), layout_height=float(it.height),
    )
    assert fast == slow
    golden = open(
        f"{REFERENCE}/tests/comparisons/scotus-transcript-p1.txt"
    ).read().strip("\n")
    assert fast == golden
