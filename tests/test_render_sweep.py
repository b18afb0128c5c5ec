"""Render robustness sweep: page 0 of EVERY reference fixture renders
to a valid PNG (all three embedded-font classes, CID fonts, scans,
damaged files), deterministically.

Reference analogue: pdfplumber's display tests render via pypdfium2;
this sweep drives the from-scratch raster path (kernel/raster.py +
truetype/cff/type1 glyph engines) across the whole real-world corpus.
"""

import glob
import hashlib

from pdfplumber_spark import api
from reforacle import REFERENCE

PDFS = sorted(glob.glob(f"{REFERENCE}/tests/pdfs/*.pdf"))

# by-design failures: no object structure at all / needs a password
EXPECTED_UNRENDERABLE = {"empty.pdf", "password-example.pdf"}

# fixtures spanning the glyph-engine matrix: TrueType (/FontFile2),
# Type1C (/FontFile3), CID-keyed CFF, Type 1 (/FontFile), base-14-only
DETERMINISM_SAMPLE = [
    "extra-attrs-example.pdf",
    "issue-316-example.pdf",
    "issue-598-example.pdf",
    "issue-982-example.pdf",
    "pdffill-demo.pdf",
]


def test_every_reference_fixture_renders():
    assert len(PDFS) >= 50
    failures = {}
    for path in PDFS:
        name = path.rsplit("/", 1)[1]
        try:
            pdf = api.open(path)
            if not pdf.pages:
                continue
            png = pdf.pages[0].to_image(resolution=36)._repr_png_()
            assert png[:8] == b"\x89PNG\r\n\x1a\n" and len(png) > 100
        except Exception as e:  # noqa: BLE001 — collected, asserted below
            failures[name] = f"{type(e).__name__}: {e}"
    assert set(failures) == EXPECTED_UNRENDERABLE, failures


def test_render_determinism_across_font_classes():
    for name in DETERMINISM_SAMPLE:
        path = f"{REFERENCE}/tests/pdfs/" + name
        h = [
            hashlib.sha256(
                api.open(path).pages[0].to_image(resolution=36)
                ._repr_png_()
            ).hexdigest()
            for _ in range(2)
        ]
        assert h[0] == h[1], name
