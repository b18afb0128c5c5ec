"""Serialization / CTM operator tests (convert.py + ctm.py analogues)."""

import math

import pytest
from pyspark.sql import functions as F

from pdfplumber_spark.operators import convert as C
from reforacle import REFERENCE


@pytest.fixture(scope="module")
def objs(spark):
    return spark.createDataFrame(
        [
            ("char", 1, 1.23456, 10.0, [1.0, 0.0, 0.0, 1.0, 7.5, 9.25]),
            ("rect", 1, 2.34567, 20.0, [0.0, 1.0, -1.0, 0.0, 0.0, 0.0]),
        ],
        "object_type string, page_number int, x0 double, width double, matrix array<double>",
    )


def test_round_floats(spark, objs):
    out = C.round_floats(objs, 3).toPandas()
    assert out["x0"].tolist() == [1.235, 2.346]
    assert out["matrix"].iloc[0][4] == 7.5


def test_select_attrs_include_exclude(spark, objs):
    inc = C.select_attrs(objs, include_attrs=["x0"])
    assert set(inc.columns) == {"object_type", "x0"}
    exc = C.select_attrs(objs, exclude_attrs=["matrix"])
    assert "matrix" not in exc.columns
    with pytest.raises(ValueError):
        C.select_attrs(objs, include_attrs=["a"], exclude_attrs=["b"])
    with pytest.raises(ValueError):
        C.select_attrs(objs, exclude_attrs=["object_type"])


def test_csv_ordered(spark, objs):
    out = C.csv_ordered(objs)
    assert out.columns[:3] == ["object_type", "page_number", "x0"]


def test_flatten_complex(spark, objs):
    out = C.flatten_complex(objs)
    row = out.toPandas().iloc[0]
    assert row["matrix"].startswith("[")  # JSON string now


def test_ctm_accessors_match_reference_math(spark, objs):
    # reference ctm.py:8-38 formulas on an identity and a 90-degree matrix
    out = C.with_ctm_accessors(objs).toPandas()
    ident = out.iloc[0]
    assert ident["scale_x"] == pytest.approx(1.0)
    assert ident["scale_y"] == pytest.approx(1.0)
    assert ident["skew_x"] == pytest.approx(math.atan2(1.0, 0.0) * 180 / math.pi - 90)
    assert ident["skew_y"] == pytest.approx(0.0)
    assert ident["translation_x"] == 7.5
    assert ident["translation_y"] == 9.25
    rot = out.iloc[1]
    assert rot["scale_x"] == pytest.approx(1.0)
    assert rot["skew_y"] == pytest.approx(90.0)


# --- single-doc to_json/to_csv facade (reference tests/test_convert.py) ----

def _demo():
    import pdfplumber_spark.api as pdfplumber

    return pdfplumber.open(
        f"{REFERENCE}/tests/pdfs/pdffill-demo.pdf", pages=[1, 2, 5]
    )


def test_facade_to_json():
    # reference test_convert.py:141-145
    import json

    pdf = _demo()
    c = json.loads(pdf.to_json())
    assert (
        c["pages"][0]["rects"][0]["bottom"]
        == pdf.pages[0].rects[0]["bottom"]
    )
    assert [p["page_number"] for p in c["pages"]] == [1, 2, 5]


def test_facade_to_json_attr_filter():
    # reference test_convert.py:147-155
    import json

    pdf = _demo()
    c = json.loads(pdf.to_json(include_attrs=["page_number"]))
    assert list(c["pages"][0]["rects"][0].keys()) == [
        "object_type", "page_number",
    ]
    with pytest.raises(ValueError):
        pdf.to_json(include_attrs=["page_number"], exclude_attrs=["x0"])
    with pytest.raises(ValueError):
        pdf.to_json(exclude_attrs=["object_type"])


def test_facade_single_page_to_json():
    # reference test_convert.py:166-168
    import json

    pdf = _demo()
    c = json.loads(pdf.pages[0].to_json())
    assert c["rects"][0]["bottom"] == pdf.pages[0].rects[0]["bottom"]


def test_facade_to_csv():
    # reference test_convert.py:176-192 shape (numeric-type cosmetics of
    # the exact byte-level row differ: our matrices are floats where
    # pdfminer keeps PDF ints; layout/ordering semantics match)
    from io import StringIO

    pdf = _demo()
    c = pdf.to_csv(precision=3)
    header = c.split("\r\n")[0].split(",")
    assert header[:11] == [
        "object_type", "page_number", "x0", "x1", "y0", "y1", "doctop",
        "top", "bottom", "width", "height",
    ]
    assert sorted(header[11:]) == header[11:]  # union fields sorted
    io = StringIO()
    pdf.to_csv(io, precision=3)
    io.seek(0)
    assert c == io.read()
    # rounding applied
    row1 = c.split("\r\n")[1].split(",")
    for v in row1[2:6]:
        if "." in v:
            assert len(v.split(".")[1]) <= 3
