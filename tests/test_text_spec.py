"""The text kernel against the scalar spec in ``textspec.py``, with no
reference checkout: ``page_text_ca`` (plain, layout with densities and
shifts, every render direction) and ``page_textmap`` (text and
provenance, plain and layout) must give exactly the spec's output under
each word setting, over hypothesis char sets and over every page of a
generated corpus."""

import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st

from genchars import CHAR_COLS, char_dicts
from pdfplumber_spark.kernel.layout import page_text_ca, page_textmap
from pdfplumber_spark.kernel.words import CharArrays, WordSettings
from test_word_spec import PAGE_COLS, SETTINGS as WORD_SETTINGS, char, corpus_pages
from textspec import TextSpec

# the word settings, plus distinct x and y tolerances: plain text picks
# one by the render line direction
SETTINGS = {**WORD_SETTINGS, "xy_tolerances": {"x_tolerance": 1, "y_tolerance": 5}}

# (line_dir_render, char_dir_render): the default and every valid pair
RENDERS = [(None, None)] + [(ld, cd) for ld in ("ttb", "btt", "ltr", "rtl")
                            for cd in ("ttb", "btt", "ltr", "rtl")
                            if set(ld) != set(cd)]

# page_text_ca layout geometry: the default (the chars' extent, no width or
# height), densities with shifts, and widths and heights in chars
LAYOUTS = {
    "extent": {},
    "density_shift": {"x_density": 4, "y_density": 9.5, "x_shift": 3,
                      "y_shift": -7, "layout_width": 300, "layout_height": 400},
    "chars": {"layout_width_chars": 40, "layout_height_chars": 30},
}


def assert_text_matches_spec(ca, rows, kw, render, layout_kwargs, bbox):
    """``page_text_ca`` plain and layout (``layout_kwargs``) in the render
    directions ``render``, and both textmaps over ``bbox`` and its extent,
    against the spec."""
    s, spec = WordSettings(**kw), TextSpec(**kw)
    wordmap = spec.wordmap(rows)
    ldr, cdr = render
    assert page_text_ca(ca, s, line_dir_render=ldr, char_dir_render=cdr) == \
        spec.extract_text(rows, wordmap, line_dir_render=ldr, char_dir_render=cdr)
    assert page_text_ca(ca, s, layout=True, line_dir_render=ldr,
                        char_dir_render=cdr, **layout_kwargs) == \
        spec.extract_text(rows, wordmap, layout=True, line_dir_render=ldr,
                          char_dir_render=cdr, **layout_kwargs)
    extent = {"layout_bbox": bbox, "layout_width": bbox[2] - bbox[0],
              "layout_height": bbox[3] - bbox[1]}
    for layout in (False, True):
        # older kernels gave None, not an empty textmap, for no words
        text, provenance = page_textmap(ca, s, layout, **extent) or ("", [])
        assert (text, [int(i) for i in provenance]) == \
            spec.textmap(rows, wordmap, layout, **extent)


def at(text, x0, top, upright=1):
    return dict(char(text, x0, x0 + 5.0, upright=upright), top=top,
                bottom=top + 10.0, doctop=top)


@settings(max_examples=300, deadline=None)
@given(rows=char_dicts(), name=st.sampled_from(sorted(SETTINGS)),
       render=st.sampled_from(RENDERS), layout=st.sampled_from(sorted(LAYOUTS)))
# a ligature gives its char one provenance row per expanded character
@example(rows=[at("ﬁ", 0.0, 0.0), at("x", 5.0, 0.0), at("y", 30.0, 0.0)],
         name="default", render=(None, None), layout="extent")
# under use_text_flow a line is an adjacent run: "a", "b", "c" are three
@example(rows=[at("a", 0.0, 0.0), at("b", 20.0, 40.0), at("c", 40.0, 0.0)],
         name="use_text_flow", render=(None, None), layout="extent")
# one extractor line of two words 3pt apart across it: one text line by
# the y tolerance (ttb render), two by the x tolerance (ltr render)
@example(rows=[at("a", 0.0, 0.0), at("b", 50.0, 3.0)], name="xy_tolerances",
         render=("ltr", "ttb"), layout="extent")
@example(rows=[at("a", 0.0, 0.0), at("b", 50.0, 3.0)], name="xy_tolerances",
         render=(None, None), layout="density_shift")
# one empty-text char, so one empty word, and a zero-size bbox: the
# layout textmap over that bbox is empty
@example(rows=[dict(at("", 0.0, 0.0, upright=0), x1=0.0, bottom=0.0, size=0.0, adv=0.0,
                    width=0.0, height=0.0)],
         name="btt_rtl", render=(None, None), layout="chars")
def test_text_matches_the_spec_on_char_sets(rows, name, render, layout):
    kw = SETTINGS[name]
    ca = CharArrays(pd.DataFrame(rows, columns=CHAR_COLS), kw.get("extra_attrs", ()))
    assert_text_matches_spec(ca, rows, kw, render, LAYOUTS[layout], ca.bbox())


@pytest.fixture(scope="module")
def pages():
    out = []
    for it in corpus_pages():
        ca = CharArrays.from_interp(it, ("fontname",))
        cols = {c: getattr(ca, c) if c != "fontname" else ca.extra[c] for c in PAGE_COLS}
        bbox = (0.0, 0.0, float(it.width), float(it.height))
        out.append((ca, pd.DataFrame(cols).to_dict("records"), bbox))
    return out


@pytest.mark.parametrize("name", sorted(SETTINGS))
def test_text_matches_the_spec_on_corpus_pages(pages, name):
    kw = SETTINGS[name]
    assert len(pages) > 40 and sum(ca.n for ca, _, _ in pages) > 10_000
    for k, (ca, rows, bbox) in enumerate(pages):
        view = ca if "extra_attrs" in kw else ca.select(())
        # each layout and render in turn, over the page's bbox
        layout = dict(LAYOUTS[sorted(LAYOUTS)[k % len(LAYOUTS)]], layout_bbox=bbox)
        assert_text_matches_spec(view, rows, kw, RENDERS[k % len(RENDERS)],
                                 layout, bbox)
