"""Vectorized bbox / edge geometry over coordinate arrays and object frames,
and the object -> edge record converters.

Semantics mirror the reference's ``pdfplumber/utils/geometry.py`` (cited
per-function). The masks and clips are columnar numpy operations over whole
object columns. Objects become edges in one place, the record converters
(:func:`line_to_edge`, :func:`rect_to_edges`, :func:`curve_to_edges`,
:func:`obj_to_edges`): ``page.edges``, explicit object-dict table lines and
``utils`` all call them, and ``tables.EdgeArrays.from_records`` turns their
records into columns.

Coordinate convention (the reference's, ``page.py:192-197``): origin at the
page's **top-left**; ``top``/``bottom`` grow downward; ``y0``/``y1`` are the
PDF-native bottom-up coordinates; ``doctop`` = ``top`` + cumulative height of
preceding pages.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

BBOX_COLS = ["x0", "top", "x1", "bottom"]


def coords(objs):
    """The (x0, top, x1, bottom) arrays of an object frame's rows or of a
    ``CharArrays``' chars."""
    if isinstance(objs, pd.DataFrame):
        return tuple(objs[c].to_numpy() for c in BBOX_COLS)
    return objs.x0, objs.top, objs.x1, objs.bottom


def bbox_overlap_mask(x0, top, x1, bottom, bbox) -> np.ndarray:
    """Boolean mask: objects whose bbox overlaps ``bbox``.

    Matches ``get_bbox_overlap`` (``utils/geometry.py:53-65``): the overlap
    box must have non-negative width AND height and positive perimeter —
    touching along an edge counts, touching only at a corner does not.
    """
    bx0, btop, bx1, bbottom = bbox
    o_w = np.minimum(x1, bx1) - np.maximum(x0, bx0)
    o_h = np.minimum(bottom, bbottom) - np.maximum(top, btop)
    return (o_w >= 0) & (o_h >= 0) & ((o_w + o_h) > 0)


def within_bbox_mask(x0, top, x1, bottom, bbox) -> np.ndarray:
    """Objects fully inside ``bbox`` (overlap == own bbox), ``geometry.py:102-110``."""
    bx0, btop, bx1, bbottom = bbox
    inside = (x0 >= bx0) & (x1 <= bx1) & (top >= btop) & (bottom <= bbottom)
    return inside & bbox_overlap_mask(x0, top, x1, bottom, bbox)


def clip_coords(x0, top, x1, bottom, doctop, bbox) -> dict:
    """Coordinate columns clipped to the overlap box (``clip_obj``,
    ``geometry.py:75-92``): the top shift propagates to ``doctop`` (left
    out when None); width/height recomputed."""
    bx0, btop, bx1, bbottom = bbox
    out = {"x0": np.maximum(x0, bx0), "x1": np.minimum(x1, bx1),
           "top": np.maximum(top, btop), "bottom": np.minimum(bottom, bbottom)}
    if doctop is not None:
        out["doctop"] = doctop + (out["top"] - top)
    out["width"] = out["x1"] - out["x0"]
    out["height"] = out["bottom"] - out["top"]
    return out


def crop_frame(df: pd.DataFrame, bbox) -> pd.DataFrame:
    """Intersect-filter then clip coords to the overlap box
    (``crop_to_bbox``, ``geometry.py:120-125``)."""
    out = df[bbox_overlap_mask(*coords(df), bbox)].copy()
    doctop = out["doctop"].to_numpy() if "doctop" in out.columns else None
    for k, v in clip_coords(*coords(out), doctop, bbox).items():
        out[k] = v
    return out


# --- object -> edge decomposition -------------------------------------------

def line_to_edge(line: dict) -> dict:
    """A line IS an edge once oriented (``geometry.py:247-250``)."""
    out = dict(line)
    out["orientation"] = "h" if line["top"] == line["bottom"] else "v"
    return out


def rect_to_edges(rect: dict) -> list:
    """Four zero-thickness edges of a rect, top, bottom, left, right, each
    inheriting every rect attr (``geometry.py:207-244``)."""
    top = dict(rect, object_type="rect_edge", height=0, orientation="h",
               y0=rect.get("y1"), bottom=rect["top"])
    bottom = dict(rect, object_type="rect_edge", height=0, orientation="h",
                  y1=rect.get("y0"),
                  top=rect["top"] + rect["height"],
                  doctop=rect.get("doctop", rect["top"]) + rect["height"])
    left = dict(rect, object_type="rect_edge", width=0, orientation="v",
                x1=rect["x0"])
    right = dict(rect, object_type="rect_edge", width=0, orientation="v",
                 x0=rect["x1"])
    return [top, bottom, left, right]


def curve_to_edges(curve: dict) -> list:
    """Consecutive pts pairs as edges, 'v' iff the xs are equal, 'h' iff
    the ys are, else None (``geometry.py:189-204``)."""
    pts = curve["pts"]
    doc_off = curve.get("doctop", curve["top"]) - curve["top"]
    out = []
    for (ax, ay), (bx, by) in zip(pts, pts[1:]):
        ori = "v" if ax == bx else ("h" if ay == by else None)
        out.append({
            "object_type": "curve_edge",
            "x0": min(ax, bx), "x1": max(ax, bx),
            "top": min(ay, by), "bottom": max(ay, by),
            "doctop": min(ay, by) + doc_off,
            "width": abs(ax - bx), "height": abs(ay - by),
            "orientation": ori,
        })
    return out


def obj_to_edges(obj: dict) -> list:
    """An object record's edge records, dispatched on object_type: an
    ``*_edge`` passes through (``geometry.py:253-260``)."""
    t = obj["object_type"]
    if "_edge" in t:
        return [obj]
    if t == "line":
        return [line_to_edge(obj)]
    return {"rect": rect_to_edges, "curve": curve_to_edges}[t](obj)


def lines_to_edges(lines: pd.DataFrame) -> pd.DataFrame:
    """The edge records of a line frame's rows, as a frame (a traced hook
    name of the benchmark; no package caller)."""
    return pd.DataFrame([line_to_edge(o) for o in lines.to_dict("records")])


def rects_to_edges(rects: pd.DataFrame) -> pd.DataFrame:
    """:func:`lines_to_edges` for a rect frame."""
    return pd.DataFrame([e for o in rects.to_dict("records")
                         for e in rect_to_edges(o)])


def curves_to_edges(curves: pd.DataFrame) -> pd.DataFrame:
    """:func:`lines_to_edges` for a curve frame."""
    return pd.DataFrame([e for o in curves.to_dict("records")
                         for e in curve_to_edges(o)])


def curve_segments(pts_lists):
    """Consecutive point pairs of each curve's ``pts`` list of (x, top):
    ``(owner, a, b)`` with ``owner`` the curve's position and ``a``/``b``
    the (k, 2) start/end points, curves in order (``geometry.py:189-204``)."""
    npts = np.fromiter((len(p) for p in pts_lists), dtype=np.int64,
                       count=len(pts_lists))
    if npts.sum() == 0:
        empty = np.zeros((0, 2))
        return np.zeros(0, dtype=np.int64), empty, empty
    flat = np.concatenate([np.asarray(p, dtype=np.float64).reshape(-1, 2)
                           for p in pts_lists if len(p)])
    # Row index of each flattened point's parent curve.
    owner = np.repeat(np.arange(len(pts_lists)), npts)
    # A segment starts at every point whose successor has the same owner.
    seg = owner[:-1] == owner[1:]
    return owner[:-1][seg], flat[:-1][seg], flat[1:][seg]


def curve_orientation(ax, ay, bx, by) -> np.ndarray:
    """'v' iff a segment's xs are equal, 'h' iff its ys are, else None."""
    return np.where(ax == bx, "v", np.where(ay == by, "h", None))


def edge_mask(orientation, object_type, width, height, ori=None,
              edge_type=None, min_length: float = 1) -> np.ndarray:
    """Edge predicate (``geometry.py:263-278``) over edge columns: the
    length that must reach ``min_length`` is height for vertical edges,
    width for horizontal; ``ori``/``edge_type`` keep one orientation /
    object_type."""
    if ori not in ("v", "h", None):
        raise ValueError("Orientation must be 'v' or 'h'")
    mask = np.where(orientation == "v", height, width) >= min_length
    if ori is not None:
        mask &= orientation == ori
    if edge_type is not None:
        mask &= object_type == edge_type
    return mask
