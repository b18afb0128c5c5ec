"""Vectorized bbox / edge geometry over coordinate arrays and object frames.

Semantics mirror ``/root/reference/pdfplumber/utils/geometry.py`` (cited
per-function) but are re-expressed as columnar numpy operations over whole
object columns, never per-row dict manipulation.

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

def rects_to_edges(rects: pd.DataFrame) -> pd.DataFrame:
    """Each rect -> 4 zero-thickness edges (``geometry.py:207-244``).

    Emitted in the reference's order (top, bottom, left, right) per rect.
    """
    if len(rects) == 0:
        return pd.DataFrame(columns=list(rects.columns) + ["orientation"])
    n = len(rects)
    base = pd.concat([rects] * 4, ignore_index=True)
    part = np.repeat(np.arange(4), n)  # 0=top 1=bottom 2=left 3=right
    x0 = base["x0"].to_numpy().copy()
    x1 = base["x1"].to_numpy().copy()
    top = base["top"].to_numpy().copy()
    bottom = base["bottom"].to_numpy().copy()
    doctop = base["doctop"].to_numpy().copy() if "doctop" in base else None
    width = base["width"].to_numpy().copy()
    height = base["height"].to_numpy().copy()
    y0 = base["y0"].to_numpy().copy() if "y0" in base else None
    y1 = base["y1"].to_numpy().copy() if "y1" in base else None

    t, b, le, r = (part == 0), (part == 1), (part == 2), (part == 3)
    # top edge: height=0, y0=y1, bottom=top
    height[t] = 0.0
    bottom[t] = top[t]
    if y0 is not None and y1 is not None:
        y0[t] = y1[t]
    # bottom edge: height=0, y1=y0, top=old bottom, doctop += height
    h_orig = base["height"].to_numpy()
    if y0 is not None and y1 is not None:
        y1[b] = y0[b]
    top[b] = top[b] + h_orig[b]
    if doctop is not None:
        doctop[b] = doctop[b] + h_orig[b]
    height[b] = 0.0
    # left edge: width=0, x1=x0
    width[le] = 0.0
    x1[le] = x0[le]
    # right edge: width=0, x0=x1
    width[r] = 0.0
    x0[r] = x1[r]

    out = base.copy()
    out["x0"], out["x1"], out["top"], out["bottom"] = x0, x1, top, bottom
    out["width"], out["height"] = width, height
    if doctop is not None:
        out["doctop"] = doctop
    if y0 is not None:
        out["y0"] = y0
    if y1 is not None:
        out["y1"] = y1
    out["object_type"] = "rect_edge"
    out["orientation"] = np.where(part <= 1, "h", "v")
    # reference emits [top, bottom, left, right] per rect, rect-major order
    order = np.argsort(np.tile(np.arange(n), 4) * 4 + part, kind="stable")
    return out.iloc[order].reset_index(drop=True)


def lines_to_edges(lines: pd.DataFrame) -> pd.DataFrame:
    """line -> edge with orientation (h iff top==bottom), ``geometry.py:247-250``."""
    out = lines.copy()
    if len(out):
        out["orientation"] = np.where(
            out["top"].to_numpy() == out["bottom"].to_numpy(), "h", "v"
        )
    else:
        out["orientation"] = pd.Series([], dtype=object)
    out["object_type"] = "line"
    return out


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


def curves_to_edges(curves: pd.DataFrame) -> pd.DataFrame:
    """Consecutive pts pairs -> edges (``geometry.py:189-204``).

    ``pts`` column holds a list of (x, top) pairs per curve. Orientation is
    'v' iff xs equal, 'h' iff ys equal, else None (oblique).
    """
    cols = [
        "object_type", "x0", "x1", "top", "doctop", "bottom",
        "width", "height", "orientation",
    ]
    pts = curves["pts"].to_list() if len(curves) else []
    if not any(len(p) for p in pts):
        return pd.DataFrame(columns=cols)
    own, a, b = curve_segments(pts)
    ax, ay, bx, by = a[:, 0], a[:, 1], b[:, 0], b[:, 1]
    top = np.minimum(ay, by)
    if "doctop" in curves.columns:
        dt_adj = (curves["doctop"].to_numpy(dtype=np.float64)
                  - curves["top"].to_numpy(dtype=np.float64))[own]
    else:
        dt_adj = np.zeros(len(own))
    return pd.DataFrame(
        {
            "object_type": "curve_edge",
            "x0": np.minimum(ax, bx),
            "x1": np.maximum(ax, bx),
            "top": top,
            "doctop": top + dt_adj,
            "bottom": np.maximum(ay, by),
            "width": np.abs(ax - bx),
            "height": np.abs(ay - by),
            "orientation": curve_orientation(ax, ay, bx, by),
        },
        columns=cols,
    )


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


def filter_edges_frame(
    edges: pd.DataFrame,
    orientation=None,
    edge_type=None,
    min_length: float = 1,
) -> pd.DataFrame:
    """:func:`edge_mask` over an edge frame."""
    if orientation not in ("v", "h", None):
        raise ValueError("Orientation must be 'v' or 'h'")
    if len(edges) == 0:
        return edges
    return edges[edge_mask(
        *(edges[c].to_numpy() for c in ("orientation", "object_type", "width", "height")),
        orientation, edge_type, min_length,
    )]
