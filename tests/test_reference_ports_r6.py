"""Round-6 reference-suite ports + regressions (continues
tests/test_reference_ports_r5.py — reference: the checkout's tests/).

Each test pins EXACT expected output so any divergence from the
reference's semantics fails loudly.
"""

import pytest

from pdfplumber_spark import api
from reforacle import REFERENCE

PDFS = f"{REFERENCE}/tests/pdfs"


def test_layout_mode_keeps_render_directions():
    """Round-5 ADVICE (api.py:391): layout=True used to rebuild
    layout_kwargs with dict(...), discarding the captured
    line_dir_render/char_dir_render — the exact bug the round-5 port fix
    claimed to close. The render directions must reorder layout-mode
    output exactly as in non-layout mode (reference text.py:241-420
    passes them to both assemblers)."""
    page = api.open(f"{PDFS}/line-char-render-example.pdf").pages[0]
    plain = page.extract_text(layout=True)
    flipped = page.extract_text(
        layout=True, line_dir_render="btt", char_dir_render="rtl"
    )
    assert plain != flipped
    # line order inverted, chars mirrored within each line (modulo the
    # trailing-space padding layout mode emits per line)
    p_lines = [ln.strip() for ln in plain.splitlines() if ln.strip()]
    f_lines = [ln.strip() for ln in flipped.splitlines() if ln.strip()]
    assert f_lines == [ln[::-1] for ln in reversed(p_lines)]


def test_chars_always_carry_mcid_tag_keys():
    """Round-5 ADVICE (api.py:716): the reference emits mcid/tag keys
    (None-valued) on EVERY char, tagged page or not (page.py:208-216
    process_object attrs) — the chars schema must not depend on whether
    the document has marked content."""
    # untagged fixture: keys present, all None
    page = api.open(f"{PDFS}/line-char-render-example.pdf").pages[0]
    ch = page.chars[0]
    assert "mcid" in ch and "tag" in ch
    assert ch["mcid"] is None and ch["tag"] is None
    assert {"mcid", "tag"} <= set(page._ca.extra)
    # tagged fixture: real values survive unchanged
    tagged = api.open(f"{PDFS}/mcid_example.pdf").pages[0]
    assert {"mcid", "tag"} <= set(tagged._ca.extra)
    assert any(c["mcid"] is not None for c in tagged.chars)


# --- test_issues.py ports (the pre-140 tail + loaders) ----------------------

def test_issue_14_21_53_203_objects_load():
    """test_issues.py:92-110,157-160: these real-world PDFs must load and
    yield layout objects."""
    for name in ("cupertino_usd_4-6-16.pdf", "150109DSP-Milw-505-90D.pdf",
                 "issue-53-example.pdf", "issue-203-decimalize.pdf"):
        pdf = api.open(f"{PDFS}/{name}")
        assert sum(len(v) for v in pdf.objects.values()) > 0, name


def test_issue_33_67_metadata_load():
    """test_issues.py:102-116: metadata dictionaries parse (exact key
    counts pinned)."""
    assert len(api.open(f"{PDFS}/issue-33-lorem-ipsum.pdf").metadata) == 10
    assert len(api.open(f"{PDFS}/issue-67-example.pdf").metadata) == 12


def test_pr_88_word_count():
    """test_issues.py:117-123: exact word count."""
    page = api.open(f"{PDFS}/pr-88-example.pdf").pages[0]
    assert len(page.extract_words()) == 25


def test_issue_90_pr136_extract_words_run():
    """test_issues.py:125-135: extract_words must not raise on these."""
    api.open(f"{PDFS}/issue-90-example.pdf").pages[0].extract_words()
    api.open(f"{PDFS}/pr-136-example.pdf").pages[0].extract_words()


def test_pr_138_chars_and_explicit_table():
    """test_issues.py:137-148: exact char count + explicit-lines table
    from curves+edges object dicts."""
    page = api.open(f"{PDFS}/pr-138-example.pdf").pages[0]
    assert len(page.chars) == 5140
    page.extract_tables(
        {
            "vertical_strategy": "explicit",
            "horizontal_strategy": "lines",
            "explicit_vertical_lines": page.curves + page.edges,
        }
    )


def test_issue_140_cropped_table_and_216_no_table():
    """test_issues.py:150-178: cropped table has exactly 5 rows; a
    content-free crop returns None instead of crashing."""
    pdf = api.open(f"{PDFS}/issue-140-example.pdf")
    page = pdf.pages[0]
    assert len(page.crop((0, 0, page.width, 122)).extract_table()) == 5
    assert page.crop((0, 0, 1, 1)).extract_table() is None


def test_issue_297_integer_metadata():
    """test_issues.py:172-178: integer-typed metadata values stay int."""
    md = api.open(f"{PDFS}/issue-297-example.pdf").metadata
    assert isinstance(md["Copies"], int) and md["Copies"] == 0


def test_issue_1089_no_fd_accumulation():
    """test_issues.py:284-304 analogue: repeated to_image() must not
    accumulate open file descriptors (the reference leaked via
    pypdfium2; our rasterizer must not leak either)."""
    import os

    pdf = api.open(f"{PDFS}/pr-88-example.pdf")
    before = len(os.listdir("/proc/self/fd"))
    for _ in range(40):
        pdf.pages[0].to_image(resolution=24)
    after = len(os.listdir("/proc/self/fd"))
    assert after <= before + 2


# --- test_basics.py loader ports --------------------------------------------

def test_loading_pathobj_and_fileobj():
    """test_basics.py:174-188: Path objects and open file objects load;
    the file object is NOT auto-closed."""
    from pathlib import Path

    path = f"{PDFS}/nics-background-checks-2015-11.pdf"
    assert len(api.open(Path(path)).metadata) > 0
    with open(path, "rb") as f:
        assert len(api.open(f).metadata) > 0
        assert not f.closed


def test_bad_fileobj_raises_and_does_not_close():
    """test_basics.py:189-199: empty.pdf raises; a caller-owned file
    object stays open after the failed parse."""
    import pytest as _pytest

    with _pytest.raises(Exception):
        api.open(f"{PDFS}/empty.pdf")
    f = open(f"{PDFS}/empty.pdf", "rb")
    with _pytest.raises(Exception):
        api.open(f)
    assert not f.closed
    f.close()


# --- test_display.py ports (round-6 cropbox + size/copy surface) ------------

def test_display_width_height_kwargs():
    """test_display.py:38-47: resolution/width/height are exclusive;
    explicit width/height hit exactly."""
    page = api.open(f"{PDFS}/nics-background-checks-2015-11.pdf").pages[0]
    with pytest.raises(ValueError):
        page.to_image(resolution=72, height=100)
    assert page.to_image(width=503).original.width == 503
    assert page.to_image(height=805).original.height == 805


def test_display_cropped_size():
    """test_display.py:72-74: a cropped page's image is crop-sized."""
    page = api.open(f"{PDFS}/nics-background-checks-2015-11.pdf").pages[0]
    im = page.crop((10, 20, 30, 50)).to_image()
    assert (im.original.width, im.original.height) == (20, 30)


def test_display_cropbox_issue_1054():
    """test_display.py:76-83 (issue-1054): an uncropped page renders its
    CROPBOX view by default; force_mediabox renders the full page. The
    reference gets (596, 842)/(2227, 2923) via pypdfium2. Since the
    round-6 ceil-parity change our cropbox dims match the reference
    EXACTLY; force_mediabox stays 1-3px below pdfium's internal sizing
    (documented divergence — pdfium pads rotated mediaboxes)."""
    page = api.open(f"{PDFS}/issue-1054-example.pdf").pages[0]
    assert page.rotation == 270
    assert page.mediabox == (0.0, 0.0, 2225.2, 2919.69)
    # reference page.py:233-238 formula, origin-shifted to our frame
    assert page.cropbox == (1615.75, 2063.627, 2211.02, 2905.5168)
    im = page.to_image()
    assert (im.original.width, im.original.height) == (596, 842)
    im = page.to_image(force_mediabox=True)
    assert (im.original.width, im.original.height) == (2226, 2920)


def test_display_bytes_stream_and_copy_and_repr_png():
    """test_display.py:61-64,84-85,99-103."""
    import io

    path = f"{PDFS}/nics-background-checks-2015-11.pdf"
    page = api.open(io.BytesIO(open(path, "rb").read())).pages[0]
    im = page.to_image()
    assert im.copy().original == im.original
    png = im._repr_png_()
    assert isinstance(png, bytes) and len(png) > 1000


def test_display_password():
    """test_display.py:120-123: rendering an encrypted PDF."""
    pdf = api.open(f"{PDFS}/password-example.pdf", password="test")
    pdf.pages[0].to_image(resolution=36)


# --- test_convert.py exact-output ports (round-6 CSV/JSON parity) -----------

def test_convert_csv_exact_reference_row():
    """test_convert.py:176-188: EXACT byte parity with the reference's
    pinned CSV row — requires the round-6 parity set: first-paint type
    ordering, int-preserving matrices/colors, ncs, pattern/path/dash/
    evenodd/srcsize/stream columns, and no engine-internal columns."""
    from io import StringIO

    pdf = api.open(f"{PDFS}/pdffill-demo.pdf")
    c = pdf.to_csv(precision=3)
    assert c.split("\r\n")[9] == (
        "char,1,45.83,58.826,656.82,674.82,117.18,117.18,135.18,12.996,"
        '18.0,12.996,,,,,,,TimesNewRomanPSMT,,,"(1, 0, 0, 1, 45.83, 660.69)"'
        ',,DeviceRGB,"(0, 0, 0)",,,,18.0,,,,,,,Y,,1,'
    )
    sio = StringIO()
    pdf.to_csv(sio, precision=3)
    sio.seek(0)
    assert c == sio.read()


def test_convert_csv_all_types_starts_with_line():
    """test_convert.py:190-192: with object_types=None the first row is
    the page's first-painted object — a line for pdffill-demo."""
    pdf = api.open(f"{PDFS}/pdffill-demo.pdf")
    c = pdf.to_csv(object_types=None)
    assert c.split("\r\n")[1].split(",")[0] == "line"


def test_convert_json_roundtrip_values():
    """test_convert.py:141-164 + 295-297."""
    import json

    pdf = api.open(f"{PDFS}/pdffill-demo.pdf")
    c = json.loads(pdf.to_json())
    assert (c["pages"][0]["rects"][0]["bottom"]
            == pdf.pages[0].rects[0]["bottom"])
    c = json.loads(pdf.to_json(include_attrs=["page_number"]))
    assert list(c["pages"][0]["rects"][0].keys()) == [
        "object_type", "page_number"]
    with pytest.raises(ValueError):
        pdf.to_json(include_attrs=["page_number"], exclude_attrs=["bottom"])
    with pytest.raises(ValueError):
        pdf.to_json(exclude_attrs=["object_type"])
    c = json.loads(pdf.to_json(object_types=None))
    found = c["pages"][0].keys()
    assert {"chars", "lines", "rects", "images"} <= set(found)
    assert "curves" in c["pages"][2].keys()
    x = pdf.pages[0].to_dict(object_types=["char"])
    assert len(x["chars"]) == len(pdf.pages[0].chars)


def test_char_records_reference_attr_set():
    """Round-6 parity: page.chars carries EXACTLY the reference's char
    attr set (ALL_ATTRS ∩ LTChar + geometry + ncs/color/pattern/text),
    no engine-internal keys (char_index)."""
    page = api.open(f"{PDFS}/pdffill-demo.pdf").pages[0]
    assert sorted(page.chars[0].keys()) == [
        "adv", "bottom", "doctop", "fontname", "height", "matrix", "mcid",
        "ncs", "non_stroking_color", "non_stroking_pattern", "object_type",
        "page_number", "size", "stroking_color", "stroking_pattern", "tag",
        "text", "top", "upright", "width", "x0", "x1", "y0", "y1",
    ]
    ch = page.chars[0]
    assert ch["ncs"] == "DeviceRGB"        # set by '0 0 0 rg'
    assert ch["matrix"] == (1, 0, 0, 1, 45.83, 660.69)  # ints preserved
    assert ch["non_stroking_color"] == (0, 0, 0)
    # first line painted before any color op: pdfminer default scolor=None
    assert page.lines[0]["stroking_color"] is None
