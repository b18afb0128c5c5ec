"""Property-based differential fuzzing: kernels vs the reference's own
algorithm modules over adversarial char sets (hypothesis)."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st

from genchars import CHAR_COLS, char_dicts, chars_frame
from pdfplumber_spark.kernel.cluster import cluster_list
from pdfplumber_spark.kernel.layout import page_text_ca, simple_text
from pdfplumber_spark.kernel.words import CharArrays, WordSettings, extract_words_frame
from reforacle import ref_module


@settings(max_examples=100, deadline=None)
@given(rows=char_dicts(), xt=st.sampled_from([0, 1, 3]), yt=st.sampled_from([0, 1, 3]))
def test_fuzz_extract_words(rows, xt, yt):
    text = ref_module("utils.text")
    exp = text.extract_words(
        [dict(r) for r in rows], x_tolerance=xt, y_tolerance=yt
    )
    got, _, _ = extract_words_frame(
        chars_frame(rows), WordSettings(x_tolerance=xt, y_tolerance=yt)
    )
    assert len(got) == len(exp)
    for i, e in enumerate(exp):
        assert got["text"].iloc[i] == e["text"], i
        assert got["x0"].iloc[i] == pytest.approx(e["x0"]), i
        assert got["top"].iloc[i] == pytest.approx(e["top"]), i
        assert got["direction"].iloc[i] == e["direction"], i


@settings(max_examples=80, deadline=None)
@given(rows=char_dicts())
def test_fuzz_extract_text(rows):
    text = ref_module("utils.text")
    exp = text.extract_text([dict(r) for r in rows])
    got = page_text_ca(CharArrays(chars_frame(rows)), WordSettings())
    assert got == exp


@settings(max_examples=60, deadline=None)
@given(rows=char_dicts())
def test_fuzz_extract_text_layout(rows):
    text = ref_module("utils.text")
    exp = text.extract_text(
        [dict(r) for r in rows], layout=True, layout_bbox=(0, 0, 612, 792),
        layout_width=612, layout_height=792,
    )
    got = page_text_ca(
        CharArrays(chars_frame(rows)), WordSettings(), layout=True,
        layout_bbox=(0, 0, 612, 792), layout_width=612, layout_height=792,
    )
    assert got == exp


@settings(max_examples=80, deadline=None)
@given(rows=char_dicts())
def test_fuzz_extract_text_simple(rows):
    text = ref_module("utils.text")
    exp = text.extract_text_simple([dict(r) for r in rows])
    got = simple_text(CharArrays(chars_frame(rows)))
    assert got == exp


@settings(max_examples=250, deadline=None)
@given(
    vals=st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=0, max_size=200),
    tol=st.sampled_from([0, 0.5, 1, 7, 1e6]),
)
@example(
    vals=[1e-05, -0.99999],
    tol=1,
).via('discovered failure')
def test_fuzz_cluster_list(vals, tol):
    ref = ref_module("utils.clustering")
    exp = ref.cluster_list(list(vals), tol)
    got = cluster_list(list(vals), tol)
    assert [list(map(float, g)) for g in got] == [
        list(map(float, g)) for g in exp
    ]


def test_empty_text_char_splits_like_punctuation():
    """Regression (found by fuzzing): `"" in split_at_punctuation` is True
    for any punct string, so empty-text chars always become single-char
    words in the reference (text.py:621)."""
    text = ref_module("utils.text")
    base = {"text": "a", "fontname": "F1", "size": 0.0, "adv": 0.0,
            "upright": 0, "x0": 0.0, "x1": 0.0, "top": 0.0, "bottom": 0.0,
            "doctop": 0.0, "width": 0.0, "height": 0.0}
    rows = [dict(base) for _ in range(5)]
    rows[2]["text"] = ""
    exp = text.extract_words([dict(r) for r in rows], x_tolerance=0, y_tolerance=0)
    got, _, _ = extract_words_frame(
        chars_frame(rows), WordSettings(x_tolerance=0, y_tolerance=0)
    )
    assert got["text"].tolist() == [w["text"] for w in exp] == ["aa", "", "aa"]
