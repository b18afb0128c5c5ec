"""The word kernel against the scalar spec in ``wordspec.py``, with no
reference checkout: ``extract_words_ca`` must give exactly the spec's
words, ``char_word_id`` and ``char_word_pos`` under each setting below,
over hypothesis char sets and over every page of a generated corpus."""

import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st

from genchars import CHAR_COLS, char_dicts
from pdfplumber_spark.kernel.pdfparse import parse_pdf
from pdfplumber_spark.kernel.words import CharArrays, WordSettings, extract_words_ca
from pdfplumber_spark.sources.corpus import generate_rows
from wordspec import WordSpec

SETTINGS = {
    "default": {},
    "use_text_flow": {"use_text_flow": True},
    "split_at_punctuation": {"split_at_punctuation": True},
    "keep_blank_chars": {"keep_blank_chars": True},
    "tolerance_ratios": {"x_tolerance_ratio": 0.3, "y_tolerance_ratio": 0.5},
    "btt_rtl": {"line_dir": "btt", "char_dir": "rtl"},
    "rotated_dirs": {"line_dir_rotated": "rtl", "char_dir_rotated": "btt"},
    "no_ligatures": {"expand_ligatures": False},
    "extra_fontname": {"extra_attrs": ("fontname",)},
    "deprecated_dirs": {"horizontal_ltr": False, "vertical_ttb": False},
}

PAGE_COLS = ["text", "fontname", "size", "upright", "x0", "x1", "top",
             "bottom", "doctop", "height"]


def assert_matches_spec(ca: CharArrays, rows: list, kw: dict):
    got, cwid, cwpos = extract_words_ca(ca, WordSettings(**kw))
    want, want_id, want_pos = WordSpec(**kw).extract(rows)
    assert cwid.tolist() == want_id
    assert cwpos.tolist() == want_pos
    assert got.records() == want


def char(text, x0, x1, size=10.0, upright=1, fontname="F1"):
    return {"text": text, "fontname": fontname, "size": size, "adv": x1 - x0,
            "upright": upright, "x0": x0, "x1": x1, "top": 0.0, "bottom": 10.0,
            "doctop": 0.0, "width": x1 - x0, "height": 10.0}


@settings(max_examples=200, deadline=None)
@given(rows=char_dicts(), name=st.sampled_from(sorted(SETTINGS)))
# a rotated char in the upright one's place starts a new group, so a word
@example(rows=[char("a", 0.0, 5.0), char("b", 0.0, 5.0, upright=0)], name="default")
# the ratio tolerance is the previous char's: 0.3 * 12 lets a 2pt gap pass
@example(rows=[char("a", 0.0, 5.0, size=12.0), char("b", 7.0, 9.0, size=4.0)],
         name="tolerance_ratios")
# a font change splits a word only when fontname is an extra attr
@example(rows=[char("a", 0.0, 5.0), char("b", 5.0, 10.0, fontname="F2")],
         name="default")
def test_words_match_the_spec_on_char_sets(rows, name):
    kw = SETTINGS[name]
    # the chars carry fontname under every setting: the kernel groups on
    # the settings' extra_attrs alone
    ca = CharArrays(pd.DataFrame(rows, columns=CHAR_COLS), ("fontname",))
    assert_matches_spec(ca, rows, kw)


def corpus_pages():
    """Every parsed PDF page of one generated corpus."""
    for row in generate_rows(n_docs=48, seed=5):
        payload = row["html"]
        if isinstance(payload, bytes) and payload.startswith(b"%PDF-"):
            try:
                yield from parse_pdf(payload)
            except Exception:  # a broken payload has no pages
                pass


@pytest.fixture(scope="module")
def pages():
    out = []
    for it in corpus_pages():
        ca = CharArrays.from_interp(it, ("fontname",))
        cols = {c: getattr(ca, c) if c != "fontname" else ca.extra[c] for c in PAGE_COLS}
        out.append((ca, pd.DataFrame(cols).to_dict("records")))
    return out


@pytest.mark.parametrize("name", sorted(SETTINGS))
def test_words_match_the_spec_on_corpus_pages(pages, name):
    kw = SETTINGS[name]
    assert len(pages) > 40 and sum(ca.n for ca, _ in pages) > 10_000
    assert any((ca.upright == 0).any() for ca, _ in pages)  # rotated pages
    for ca, rows in pages:  # ca carries fontname under every setting
        assert_matches_spec(ca, rows, kw)
