import numpy as np
import pytest

from genchars import chars_frame, random_chars
from pdfplumber_spark.kernel.words import (
    WordSettings,
    dedupe_chars_frame,
    extract_words_frame,
)
from reforacle import ref_module

WORD_KEYS = ["text", "x0", "x1", "top", "doctop", "bottom", "upright", "direction"]


def assert_words_equal(got, exp):
    assert len(got) == len(exp), f"word count {len(got)} != {len(exp)}"
    for i, e in enumerate(exp):
        for k in WORD_KEYS:
            g = got[k].iloc[i]
            if isinstance(e[k], float):
                assert g == pytest.approx(e[k]), (i, k, got["text"].iloc[i], e["text"])
            else:
                assert g == e[k], (i, k)


@pytest.mark.parametrize("seed", range(12))
def test_extract_words_differential_default(seed):
    text = ref_module("utils.text")
    rng = np.random.default_rng(seed)
    rows = random_chars(rng, n_lines=int(rng.integers(2, 10)))
    exp = text.extract_words([dict(r) for r in rows])
    got, _, _ = extract_words_frame(chars_frame(rows), WordSettings())
    assert_words_equal(got, exp)


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize(
    "kwargs",
    [
        {"keep_blank_chars": True},
        {"split_at_punctuation": True},
        {"split_at_punctuation": ".,"},
        {"x_tolerance": 1, "y_tolerance": 1},
        {"x_tolerance_ratio": 0.3},
        {"use_text_flow": True},
        {"extra_attrs": ["size"]},
        {"expand_ligatures": False},
    ],
)
def test_extract_words_differential_settings(seed, kwargs):
    text = ref_module("utils.text")
    rng = np.random.default_rng(1000 + seed)
    rows = random_chars(rng, n_lines=5)
    exp = text.extract_words([dict(r) for r in rows], **kwargs)
    skw = dict(kwargs)
    if "extra_attrs" in skw:
        skw["extra_attrs"] = tuple(skw["extra_attrs"])
    got, _, _ = extract_words_frame(chars_frame(rows), WordSettings(**skw))
    keys = WORD_KEYS + (kwargs.get("extra_attrs") or [])
    assert len(got) == len(exp)
    for i, e in enumerate(exp):
        for k in keys:
            g = got[k].iloc[i]
            if isinstance(e[k], float):
                assert g == pytest.approx(e[k]), (i, k)
            else:
                assert g == e[k], (i, k)


@pytest.mark.parametrize("seed", range(4))
@pytest.mark.parametrize(
    "dirs",
    [
        {"line_dir": "ttb", "char_dir": "ltr"},
        {"line_dir": "ttb", "char_dir": "rtl"},
        {"line_dir": "btt", "char_dir": "ltr"},
        {"line_dir": "ltr", "char_dir": "ttb"},
        {"line_dir": "rtl", "char_dir": "btt"},
    ],
)
def test_extract_words_differential_directions(seed, dirs):
    text = ref_module("utils.text")
    rng = np.random.default_rng(2000 + seed)
    rows = random_chars(rng, n_lines=4)
    exp = text.extract_words([dict(r) for r in rows], **dirs)
    got, _, _ = extract_words_frame(chars_frame(rows), WordSettings(**dirs))
    assert_words_equal(got, exp)


@pytest.mark.parametrize("seed", range(4))
def test_extract_words_rotated_mix(seed):
    text = ref_module("utils.text")
    rng = np.random.default_rng(3000 + seed)
    rows = random_chars(rng, n_lines=6, rotated_p=0.3)
    exp = text.extract_words([dict(r) for r in rows])
    got, _, _ = extract_words_frame(chars_frame(rows), WordSettings())
    assert_words_equal(got, exp)


@pytest.mark.parametrize("seed", range(6))
def test_dedupe_chars_differential(seed):
    text = ref_module("utils.text")
    rng = np.random.default_rng(4000 + seed)
    rows = random_chars(rng, n_lines=4)
    # double-paint some chars with slight offsets (bold simulation)
    for r in list(rows):
        if rng.uniform() < 0.4:
            dup = dict(r)
            off = float(rng.uniform(0, 0.8))
            dup["x0"] += off
            dup["x1"] += off
            rows.append(dup)
    exp = text.dedupe_chars([dict(r) for r in rows])
    got = dedupe_chars_frame(chars_frame(rows))
    assert len(got) == len(exp)
    for i, e in enumerate(exp):
        assert got["text"].iloc[i] == e["text"]
        assert got["x0"].iloc[i] == pytest.approx(e["x0"])
        assert got["doctop"].iloc[i] == pytest.approx(e["doctop"])


def test_dedupe_chars_none_key_kept():
    """None is an ordinary dedupe key (the reference groups with
    itertools.groupby). The two fontname=None `a` chars share a key and sit
    within tolerance 1 on doctop (0 vs 0.2) and x0 (0 vs 0.3), so they form
    one cluster whose (doctop, x0)-minimum is the first; `b` has its own
    key. Expected, by hand: `a` at (0, 0), then `b`."""
    import pandas as pd

    from pdfplumber_spark import utils

    def char(text, fontname, doctop, x0):
        return {"text": text, "fontname": fontname, "size": 10.0, "upright": 1,
                "doctop": doctop, "top": doctop, "bottom": doctop + 10,
                "x0": x0, "x1": x0 + 5}

    rows = [char("a", None, 0.0, 0.0), char("a", None, 0.2, 0.3),
            char("b", "F", 0.0, 10.0)]
    got = dedupe_chars_frame(pd.DataFrame(rows))
    assert got["text"].tolist() == ["a", "b"]
    assert (got["doctop"].iloc[0], got["x0"].iloc[0]) == (0.0, 0.0)
    assert utils.dedupe_chars(rows) == [rows[0], rows[2]]
