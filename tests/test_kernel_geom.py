import pandas as pd
import pytest

from pdfplumber_spark import utils
from pdfplumber_spark.kernel import geom as G
from reforacle import ref_module


def obj(**kw):
    base = {
        "x0": 10.0, "x1": 20.0, "top": 5.0, "bottom": 15.0,
        "width": 10.0, "height": 10.0, "doctop": 105.0,
        "y0": 85.0, "y1": 95.0, "object_type": "rect",
    }
    base.update(kw)
    return base


def test_rects_to_edges_matches_reference():
    ref = ref_module("utils.geometry")
    o = obj()
    exp = ref.rect_to_edges(dict(o))
    got = G.rects_to_edges(pd.DataFrame([o]))
    assert len(got) == 4
    for i, e in enumerate(exp):
        for k in ["x0", "x1", "top", "bottom", "width", "height", "doctop", "y0", "y1"]:
            assert got[k].iloc[i] == pytest.approx(e[k]), (i, k)
        assert got["orientation"].iloc[i] == e["orientation"]


def test_curves_to_edges_matches_reference():
    ref = ref_module("utils.geometry")
    c = {
        "pts": [(0.0, 0.0), (0.0, 5.0), (3.0, 5.0), (4.0, 9.0)],
        "top": 0.0, "doctop": 100.0,
    }
    exp = ref.curve_to_edges(dict(c))
    got = G.curves_to_edges(pd.DataFrame([c]))
    assert len(got) == len(exp)
    for i, e in enumerate(exp):
        for k in ["x0", "x1", "top", "bottom", "width", "height", "doctop"]:
            assert got[k].iloc[i] == pytest.approx(e[k]), (i, k)
        assert (got["orientation"].iloc[i] or None) == e["orientation"]


def test_bbox_overlap_corner_rule():
    # touching along an edge IS overlap; only-at-a-corner is NOT
    df = pd.DataFrame(
        [
            {"x0": 0, "top": 0, "x1": 10, "bottom": 10},   # overlaps
            {"x0": 10, "top": 0, "x1": 20, "bottom": 10},  # shares an edge
            {"x0": 10, "top": 10, "x1": 20, "bottom": 20}, # corner only
            {"x0": 50, "top": 50, "x1": 60, "bottom": 60}, # outside
        ]
    )
    m = G.bbox_overlap_mask(*G.coords(df), (0, 0, 10, 10))
    assert m.tolist() == [True, True, False, False]


def test_crop_frame_matches_clip_obj():
    ref = ref_module("utils.geometry")
    objs = [
        obj(),
        obj(x0=0.0, x1=8.0, width=8.0),
        obj(top=100.0, bottom=120.0, doctop=200.0, height=20.0),
    ]
    bbox = (5.0, 2.0, 18.0, 12.0)
    exp = [ref.clip_obj(dict(o), bbox) for o in objs]
    exp = [e for e in exp if e is not None]
    got = G.crop_frame(pd.DataFrame(objs), bbox)
    assert len(got) == len(exp)
    for i, e in enumerate(exp):
        for k in ["x0", "x1", "top", "bottom", "width", "height", "doctop"]:
            assert got[k].iloc[i] == pytest.approx(e[k]), (i, k)


def test_filter_edges_min_length_axis():
    edges = [
        {"orientation": "v", "width": 0.0, "height": 5.0, "object_type": "line"},
        {"orientation": "v", "width": 0.0, "height": 1.0, "object_type": "line"},
        {"orientation": "h", "width": 5.0, "height": 0.0, "object_type": "rect_edge"},
        {"orientation": "h", "width": 2.0, "height": 0.0, "object_type": "rect_edge"},
    ]
    assert utils.filter_edges(edges, min_length=3) == [edges[0], edges[2]]
    assert utils.filter_edges(edges, orientation="h", min_length=3) == [edges[2]]
    assert utils.filter_edges(edges, edge_type="line", min_length=1) == edges[:2]
    with pytest.raises(ValueError):
        utils.filter_edges(edges, orientation="x")


def test_frame_converters_are_the_record_converters():
    """Each ``geom.*_to_edges`` frame wrapper gives, row for row, the
    record converter's edges over the frame's records; both are the
    written geometry's edges."""
    lines = [obj(object_type="line", x1=10.0, width=0.0),
             obj(object_type="line", bottom=5.0, height=0.0)]
    rects = [obj(), obj(x0=30.0, x1=45.0, width=15.0, doctop=5.0)]
    curves = [obj(object_type="curve", pts=[(10.0, 5.0), (10.0, 15.0), (20.0, 15.0)]),
              obj(object_type="curve", pts=[(0.0, 5.0), (3.0, 9.0)])]
    for to_records, to_frame, objs in (
        (lambda o: [G.line_to_edge(o)], G.lines_to_edges, lines),
        (G.rect_to_edges, G.rects_to_edges, rects),
        (G.curve_to_edges, G.curves_to_edges, curves),
    ):
        want = [e for o in objs for e in to_records(o)]
        assert to_frame(pd.DataFrame(objs)).to_dict("records") == want
        assert [e for o in objs for e in G.obj_to_edges(o)] == want
    boxes = [(e["orientation"], e["x0"], e["top"], e["x1"], e["bottom"])
             for e in G.rect_to_edges(rects[1])]
    assert boxes == [("h", 30.0, 5.0, 45.0, 5.0), ("h", 30.0, 15.0, 45.0, 15.0),
                     ("v", 30.0, 5.0, 30.0, 15.0), ("v", 45.0, 5.0, 45.0, 15.0)]
    assert [(e["orientation"], e["x0"], e["top"], e["x1"], e["bottom"], e["doctop"])
            for e in G.curve_to_edges(curves[0])] == [
        ("v", 10.0, 5.0, 10.0, 15.0, 105.0), ("h", 10.0, 15.0, 20.0, 15.0, 115.0)]
