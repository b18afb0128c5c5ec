"""End-to-end goldens: from-scratch PDF parse -> byte-identical text vs the
reference's own comparison fixtures (the strongest offline anchor —
reference ``tests/test_utils.py:357-384``)."""

import pandas as pd
import pytest

from pdfplumber_spark.kernel.geom import crop_frame
from pdfplumber_spark.kernel.layout import page_text_ca, simple_text
from pdfplumber_spark.kernel.pdfgen import make_pdf
from pdfplumber_spark.kernel.pdfparse import pdf_to_frames
from pdfplumber_spark.kernel.words import CharArrays, WordSettings
from reforacle import REFERENCE

SCOTUS_PDF = f"{REFERENCE}/tests/pdfs/scotus-transcript-p1.pdf"
SCOTUS_TXT = f"{REFERENCE}/tests/comparisons/scotus-transcript-p1.txt"
SCOTUS_TXT_CROPPED = f"{REFERENCE}/tests/comparisons/scotus-transcript-p1-cropped.txt"


@pytest.fixture(scope="module")
def scotus_chars():
    with open(SCOTUS_PDF, "rb") as f:
        frames = pdf_to_frames(f.read())
    return frames["chars"][frames["chars"]["page_number"] == 1]


def test_scotus_layout_golden(scotus_chars):
    golden = open(SCOTUS_TXT).read().strip("\n")
    txt = page_text_ca(
        CharArrays(scotus_chars),
        WordSettings(),
        layout=True,
        layout_bbox=(0, 0, 612, 792),
        layout_width=612,
        layout_height=792,
    )
    assert txt == golden


def test_scotus_layout_cropped_golden(scotus_chars):
    golden = open(SCOTUS_TXT_CROPPED).read().strip("\n")
    bbox = (90.0, 70.0, 612.0, 300.0)
    cropped = crop_frame(scotus_chars, bbox)
    txt = page_text_ca(
        CharArrays(cropped),
        WordSettings(),
        layout=True,
        layout_bbox=bbox,
        layout_width=bbox[2] - bbox[0],
        layout_height=bbox[3] - bbox[1],
    )
    assert txt == golden


def test_scotus_simple_text_nonempty(scotus_chars):
    txt = simple_text(CharArrays(scotus_chars))
    assert "Official" in txt and len(txt) > 500


def test_writer_parser_roundtrip():
    pages = [
        {
            "width": 612, "height": 792,
            "texts": [
                {"x": 72, "top": 72, "size": 12, "text": "Hello Spark world"},
                {"x": 72, "top": 100, "size": 12, "text": "Second line of text."},
            ],
            "rects": [{"x0": 70, "top": 130, "x1": 300, "bottom": 200}],
            "lines": [{"x0": 70, "top": 165, "x1": 300, "bottom": 165}],
        },
        {
            "width": 612, "height": 792,
            "texts": [{"x": 100, "top": 50, "size": 10, "text": "Page two here"}],
        },
    ]
    frames = pdf_to_frames(make_pdf(pages))
    ch = frames["chars"]
    assert page_text_ca(CharArrays(ch[ch.page_number == 1]), WordSettings()) == (
        "Hello Spark world\nSecond line of text."
    )
    assert page_text_ca(
        CharArrays(ch[ch.page_number == 2]), WordSettings()) == "Page two here"
    assert len(frames["rects"]) == 1
    assert len(frames["lines"]) == 1
    r = frames["rects"].iloc[0]
    assert (r.x0, r.top, r.x1, r.bottom) == (70.0, 130.0, 300.0, 200.0)
    # doctop accumulates page heights
    p2 = ch[ch.page_number == 2]
    assert (p2["doctop"] - p2["top"]).unique().tolist() == [792.0]


def test_writer_deterministic():
    spec = [{"width": 200, "height": 200,
             "texts": [{"x": 10, "top": 20, "size": 9, "text": "abc"}]}]
    assert make_pdf(spec) == make_pdf(spec)
