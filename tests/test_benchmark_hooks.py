"""The traced benchmark run (``perfbench/run.py --trace 1``) times each
kernel layer by patching the ``(module, attr)`` pairs in
``perfbench.tracing.KERNEL_CALLS``. A rename in the package must fail here
instead of silently breaking that run, and a name kept only as a hook must
still give what the plans' own path gives."""

import importlib

import pandas as pd
import pytest

from pdfplumber_spark.kernel.pdfgen import make_pdf
from pdfplumber_spark.kernel.pdfparse import parse_pdf
from pdfplumber_spark.kernel.tables import EdgeArrays, find_tables
from pdfplumber_spark.kernel.words import CharArrays, WordSettings, extract_words_ca
from perfbench.tracing import KERNEL_CALLS


@pytest.mark.parametrize(
    "module,attr", [(m, a) for m, a, _ in KERNEL_CALLS],
    ids=[f"{m}.{a}" for m, a, _ in KERNEL_CALLS],
)
def test_kernel_call_hook_resolves(module, attr):
    assert callable(getattr(importlib.import_module(module), attr))


# the names the plans no longer call, kept only as hooks: each must still
# give what the plans' own path gives on the same page
XS, YS = [72.0, 172.0, 272.0], [400.0, 430.0, 460.0]
PAGE = {
    "width": 612, "height": 792,
    "texts": [{"x": x + 4, "top": y + 8, "size": 10, "text": f"c{i}{j}"}
              for j, y in enumerate(YS[:-1]) for i, x in enumerate(XS[:-1])]
    + [{"x": 72, "top": 100, "size": 10, "text": "Prose above the grid"}],
    "lines": [{"x0": XS[0], "top": y, "x1": XS[-1], "bottom": y} for y in YS]
    + [{"x0": x, "top": YS[0], "x1": x, "bottom": YS[-1]} for x in XS],
    "rects": [{"x0": 60, "top": 150, "x1": 200, "bottom": 180}],
    "curves": [{"pts": [(300, 600), (400, 650), (500, 600)]}],
}


def hook(module: str, attr: str):
    assert (module, attr) in {(m, a) for m, a, _ in KERNEL_CALLS}
    return getattr(importlib.import_module(module), attr)


def test_hook_only_names_agree_with_the_plans_path():
    data = make_pdf([PAGE])
    (it,) = parse_pdf(data, style=False)
    frames = hook("pdfplumber_spark.plans.extract", "pdf_to_frames")(data)

    words = hook("pdfplumber_spark.plans.extract", "extract_words_frame")(
        frames["chars"], WordSettings())[0]
    want_words = extract_words_ca(CharArrays.from_interp(it), WordSettings())[0]
    assert words.to_dict("records") == want_words.records()
    assert "Prose" in list(words["text"])

    records = []
    for name, kind in (("lines_to_edges", "line"), ("rects_to_edges", "rect"),
                       ("curves_to_edges", "curve")):
        objs = frames[kind + "s"].assign(object_type=kind)
        records += hook("pdfplumber_spark.kernel.geom", name)(objs).to_dict("records")
    got, want = EdgeArrays.from_records(records), EdgeArrays.from_interp(it)
    assert len(want) == len(PAGE["lines"]) + 4 + len(PAGE["curves"][0]["pts"]) - 1
    for f in ("x0", "x1", "top", "bottom", "width", "height", "ori", "otype"):
        assert getattr(got, f).tolist() == getattr(want, f).tolist(), f

    bbox = (0.0, 0.0, it.width, it.height)
    cells = hook("pdfplumber_spark.kernel.tables", "find_tables_frame")(
        pd.DataFrame(records), page_bbox=bbox)
    assert cells == find_tables(want, page_bbox=bbox)
    assert [sorted(t) for t in cells] == [sorted(
        (x0, y0, x1, y1) for x0, x1 in zip(XS, XS[1:]) for y0, y1 in zip(YS, YS[1:]))]
