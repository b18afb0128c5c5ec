"""Record-level utility surface mirroring the reference's public
``pdfplumber.utils`` package (``utils/__init__.py`` exports).

The engine's char kernels (``kernel/``) run on ``CharArrays`` columns; the
text helpers here build one ``CharArrays`` from list-of-dict records and
call those kernels, so a reference user's ``pdfplumber.utils`` call sites
work unchanged against this package.
Reference anchors are cited per function; semantics re-derived from the
documented behavior, not transcribed.
"""

from __future__ import annotations

from typing import Any, Dict, Iterable, List, Optional, Tuple

import numpy as np
import pandas as pd

from .kernel.cluster import assign_clusters, group_rows_by_cluster
from .kernel.cluster import cluster_list as _cluster_list_kernel
from .kernel import layout
from .kernel.geom import (  # noqa: F401 - re-exported reference names
    curve_to_edges,
    line_to_edge,
    obj_to_edges,
    rect_to_edges,
)
from .kernel.layout import (
    DEFAULT_X_DENSITY,
    DEFAULT_Y_DENSITY,
    page_text_ca,
    resolve_layout_kwargs,
    simple_text,
)
from .kernel.words import (
    DEFAULT_X_TOLERANCE,
    DEFAULT_Y_TOLERANCE,
    CharArrays,
    dedupe_keep_mask,
    extract_words_ca,
    split_word_settings,
)

__all__ = [
    "DEFAULT_X_DENSITY", "DEFAULT_X_TOLERANCE", "DEFAULT_Y_DENSITY",
    "DEFAULT_Y_TOLERANCE", "bbox_to_rect", "calculate_area",
    "cluster_list", "cluster_objects", "clip_obj", "collate_line",
    "crop_to_bbox", "curve_to_edges", "decode_psl_list", "decode_text",
    "dedupe_chars", "extract_text", "extract_text_simple", "extract_words",
    "filter_edges", "get_bbox_overlap", "get_dict_type", "intersects_bbox",
    "line_to_edge", "make_cluster_dict", "merge_bboxes", "move_object",
    "obj_to_bbox", "obj_to_edges", "objects_to_bbox", "objects_to_rect",
    "outside_bbox", "rect_to_edges", "resize_object", "resolve",
    "resolve_all", "resolve_and_decode", "snap_objects", "to_list",
    "within_bbox",
]


# --- generic (reference utils/generic.py:10) --------------------------------

def to_list(collection) -> List[Any]:
    """Materialize records: DataFrames become row dicts, any iterable
    (generator, tuple, ...) becomes a list (``generic.py:10-17``)."""
    if isinstance(collection, pd.DataFrame):
        return collection.to_dict("records")
    return list(collection)


def _char_arrays(objs) -> Optional[CharArrays]:
    """One CharArrays over char records (or a char frame), every record
    key in ``extra``; None when there are no records."""
    if not isinstance(objs, pd.DataFrame):
        objs = pd.DataFrame(to_list(objs))
    return CharArrays(objs, objs.columns) if len(objs) else None


# --- clustering (reference utils/clustering.py) -----------------------------

def cluster_list(xs, tolerance: float = 0) -> List[List[Any]]:
    """Chained 1-D clustering of plain values (``clustering.py:10-26``)."""
    if tolerance == 0:
        return [[x] for x in sorted(xs)]
    return _cluster_list_kernel(xs, tolerance)


def make_cluster_dict(values, tolerance: float) -> Dict[Any, int]:
    """value -> dense cluster id, ids ordered by ascending cluster
    position (``clustering.py:29-36``)."""
    return {
        v: i
        for i, cl in enumerate(cluster_list(set(values), tolerance))
        for v in cl
    }


def cluster_objects(objs, key_fn, tolerance, preserve_order: bool = False):
    """Group records whose key values chain within ``tolerance``
    (``clustering.py:39-64``).  ``key_fn`` is a callable or an item key
    (any hashable — the reference accepts non-string dict keys)."""
    objs = to_list(objs)
    if not objs:
        return []
    if callable(key_fn):
        get = key_fn
    else:
        k = key_fn
        get = lambda o: o[k]  # noqa: E731
    values = [get(o) for o in objs]
    if tolerance == 0:
        # hashable path: exact grouping, clusters ordered by sorted value
        cmap = make_cluster_dict(values, 0)
        ids = [cmap[v] for v in values]
    else:
        ids = assign_clusters(values, tolerance)
    groups = group_rows_by_cluster(np.asarray(ids), preserve_order)
    return [[objs[i] for i in g] for g in groups]


# --- geometry (reference utils/geometry.py) ---------------------------------

def obj_to_bbox(obj: dict) -> Tuple:
    """(x0, top, x1, bottom) of one record (``geometry.py:29-33``)."""
    return (obj["x0"], obj["top"], obj["x1"], obj["bottom"])


def merge_bboxes(bboxes: Iterable[Tuple]) -> Tuple:
    """Smallest bbox containing all (iterator-safe, ``geometry.py:44-50``)."""
    x0s, tops, x1s, bottoms = zip(*bboxes)
    return (min(x0s), min(tops), max(x1s), max(bottoms))


def objects_to_bbox(objects) -> Tuple:
    """Smallest bbox containing all records (``geometry.py:18-23``)."""
    return merge_bboxes(obj_to_bbox(o) for o in to_list(objects))


def bbox_to_rect(bbox: Tuple) -> Dict[str, Any]:
    """bbox tuple -> {x0, top, x1, bottom} dict (``geometry.py:36-41``)."""
    return {"x0": bbox[0], "top": bbox[1], "x1": bbox[2], "bottom": bbox[3]}


def objects_to_rect(objects) -> Dict[str, Any]:
    """Smallest containing rect as a dict (``geometry.py:9-15``)."""
    return bbox_to_rect(objects_to_bbox(objects))


def get_bbox_overlap(a: Tuple, b: Tuple) -> Optional[Tuple]:
    """Intersection bbox, or None when disjoint; degenerate (zero-area but
    positive-extent) overlaps count (``geometry.py:53-65``)."""
    left, top = max(a[0], b[0]), max(a[1], b[1])
    right, bottom = min(a[2], b[2]), min(a[3], b[3])
    w, h = right - left, bottom - top
    if w >= 0 and h >= 0 and w + h > 0:
        return (left, top, right, bottom)
    return None


def calculate_area(bbox: Tuple) -> float:
    """Raises on negative extent (``geometry.py:68-72``)."""
    x0, top, x1, bottom = bbox
    if x0 > x1 or top > bottom:
        raise ValueError(f"{bbox} has a negative width or height.")
    return (x1 - x0) * (bottom - top)


def clip_obj(obj: dict, bbox: Tuple) -> Optional[dict]:
    """Clip a record to a bbox; None when disjoint (``geometry.py:75-92``).
    doctop shifts with top; width/height recomputed."""
    overlap = get_bbox_overlap(obj_to_bbox(obj), bbox)
    if overlap is None:
        return None
    x0, top, x1, bottom = overlap
    out = dict(obj)
    if "doctop" in out:
        out["doctop"] = out["doctop"] + (top - out["top"])
    out.update({"x0": x0, "top": top, "x1": x1, "bottom": bottom,
                "width": x1 - x0, "height": bottom - top})
    return out


def intersects_bbox(objs, bbox: Tuple) -> List[dict]:
    """Records whose bbox overlaps ``bbox`` — corner-touch counts, matching
    the engine's corner rule (``geometry.py:95-99``, kernel/geom.py:36)."""
    return [o for o in to_list(objs)
            if get_bbox_overlap(obj_to_bbox(o), bbox) is not None]


def within_bbox(objs, bbox: Tuple) -> List[dict]:
    """Records fully inside ``bbox`` (``geometry.py:102-110``)."""
    out = []
    for o in to_list(objs):
        ob = obj_to_bbox(o)
        if get_bbox_overlap(ob, bbox) == ob:
            out.append(o)
    return out


def outside_bbox(objs, bbox: Tuple) -> List[dict]:
    """Records fully outside ``bbox`` (``geometry.py:113-117``)."""
    return [o for o in to_list(objs)
            if get_bbox_overlap(obj_to_bbox(o), bbox) is None]


def crop_to_bbox(objs, bbox: Tuple) -> List[dict]:
    """Clip every record, dropping disjoint ones (``geometry.py:120-125``)."""
    out = (clip_obj(o, bbox) for o in to_list(objs))
    return [o for o in out if o is not None]


def move_object(obj: dict, axis: str, value) -> dict:
    """Translate along 'h' or 'v'; v also shifts doctop and the bottom-up
    y0/y1 mirror coords (``geometry.py:128-147``)."""
    if axis not in ("h", "v"):
        raise AssertionError(axis)
    out = dict(obj)
    if axis == "h":
        out["x0"] = obj["x0"] + value
        out["x1"] = obj["x1"] + value
    else:
        out["top"] = obj["top"] + value
        out["bottom"] = obj["bottom"] + value
        if "doctop" in obj:
            out["doctop"] = obj["doctop"] + value
        if "y0" in obj:
            out["y0"] = obj["y0"] - value
            out["y1"] = obj["y1"] - value
    return out


def snap_objects(objs, attr: str, tolerance) -> List[dict]:
    """Align each cluster of records to its mean coordinate
    (``geometry.py:150-159``)."""
    axis = {"x0": "h", "x1": "h", "top": "v", "bottom": "v"}[attr]
    out = []
    for cl in cluster_objects(to_list(objs), attr, tolerance):
        avg = sum(o[attr] for o in cl) / len(cl)
        out.extend(move_object(o, axis, avg - o[attr]) for o in cl)
    return out


def resize_object(obj: dict, key: str, value) -> dict:
    """Move one edge coordinate, updating the dependent extent and the
    bottom-up mirror coord (``geometry.py:162-186``)."""
    if key not in ("x0", "x1", "top", "bottom"):
        raise AssertionError(key)
    diff = value - obj[key]
    out = dict(obj)
    out[key] = value
    if key == "x0":
        assert value <= obj["x1"]
        out["width"] = obj["x1"] - value
    elif key == "x1":
        assert value >= obj["x0"]
        out["width"] = value - obj["x0"]
    elif key == "top":
        assert value <= obj["bottom"]
        out["height"] = obj["height"] - diff
        if "doctop" in obj:
            out["doctop"] = obj["doctop"] + diff
        if "y1" in obj:
            out["y1"] = obj["y1"] - diff
    else:
        assert value >= obj["top"]
        out["height"] = obj["height"] + diff
        if "y0" in obj:
            out["y0"] = obj["y0"] - diff
    return out


def filter_edges(edges, orientation=None, edge_type=None,
                 min_length: float = 1) -> List[dict]:
    """Orientation/type/min-length predicate; the length that must reach
    ``min_length`` is height for 'v', width for 'h'
    (``geometry.py:263-278``, ``kernel.geom.edge_mask`` parity)."""
    if orientation not in ("v", "h", None):
        raise ValueError("Orientation must be 'v' or 'h'")
    out = []
    for e in to_list(edges):
        dim = e["height"] if e.get("orientation") == "v" else e["width"]
        if dim < min_length:
            continue
        if orientation is not None and e.get("orientation") != orientation:
            continue
        if edge_type is not None and e.get("object_type") != edge_type:
            continue
        out.append(e)
    return out


# --- pdfinternals (reference utils/pdfinternals.py) -------------------------

def decode_text(s) -> str:
    """UTF-16 (BOM) else latin-1/PDFDocEncoding-ish text decode
    (``pdfinternals.py:8-16``, kernel PDFDocument._meta_value parity)."""
    if isinstance(s, (bytes, bytearray)):
        b = bytes(s)
        if b[:2] in (b"\xfe\xff", b"\xff\xfe"):
            try:
                return b.decode("utf-16")
            except UnicodeDecodeError:
                pass
        return b.decode("latin-1")
    return str(s)


def decode_psl_list(values) -> List[str]:
    """PDF name objects -> plain strings (``pdfinternals.py:37-41``).
    Our ``Name`` subclasses str, so str() covers both."""
    return [str(v) for v in values]


def resolve(x, doc=None):
    """Resolve one indirect reference; non-refs pass through
    (``pdfinternals.py:44-48``).  Our ``Ref`` carries no document pointer,
    so either pass ``doc`` or hand in a bound ref exposing ``.resolve()``
    (``Page.annots`` ``data`` values are bound this way)."""
    if hasattr(x, "resolve") and callable(x.resolve):
        return x.resolve()
    if doc is not None and type(x).__name__ == "Ref":
        return doc.resolve(x)
    return x


def resolve_all(x, doc=None, depth: int = 0):
    """Deep-resolve refs inside lists/dicts (``pdfinternals.py:61-70``)."""
    if depth > 16:
        return x
    x = resolve(x, doc)
    if isinstance(x, list):
        return [resolve_all(v, doc, depth + 1) for v in x]
    if isinstance(x, dict):
        return {k: resolve_all(v, doc, depth + 1) for k, v in x.items()}
    return x


def resolve_and_decode(x, doc=None, depth: int = 0):
    """resolve_all + text decode on every leaf (``pdfinternals.py:19-34``)."""
    if depth > 16:
        return x
    x = resolve(x, doc)
    if isinstance(x, list):
        return [resolve_and_decode(v, doc, depth + 1) for v in x]
    if isinstance(x, dict):
        return {k: resolve_and_decode(v, doc, depth + 1)
                for k, v in x.items()}
    if isinstance(x, (bytes, bytearray)) or type(x).__name__ == "Name":
        return decode_text(x)
    return x


def get_dict_type(d) -> Optional[str]:
    """/Type of a PDF dict, as a string (``pdfinternals.py:51-58``)."""
    if not isinstance(d, dict):
        return None
    t = d.get("Type")
    return str(t) if t is not None else None


# --- text (reference utils/text.py public helpers) --------------------------

def extract_text(chars, **kwargs) -> str:
    """Free-standing ``utils.extract_text`` over any iterable of char
    records — generators included (reference ``text.py`` extract_text;
    issue-386 requires pure-iterator input).  Accepts the same layout and
    word-settings kwargs as ``Page.extract_text``; layout geometry defaults
    to the chars' own bounding box when not given."""
    ca = _char_arrays(chars)
    if ca is None:
        return ""
    settings, rest = split_word_settings(kwargs)
    bbox = rest.pop("layout_bbox", None)
    if bbox is None:
        bbox = ca.bbox()
    return page_text_ca(ca.select(settings.extra_attrs), settings,
                        **resolve_layout_kwargs(rest, bbox))


def extract_text_simple(chars, x_tolerance=DEFAULT_X_TOLERANCE,
                        y_tolerance=DEFAULT_Y_TOLERANCE) -> str:
    """Cluster-by-doctop + collate_line assembly (``text.py`` simple
    path)."""
    ca = _char_arrays(chars)
    if ca is None:
        return ""
    return simple_text(ca, x_tolerance=x_tolerance, y_tolerance=y_tolerance)


def extract_words(chars, **kwargs) -> List[dict]:
    """Word records from char records (reference ``WordExtractor``
    surface)."""
    ca = _char_arrays(chars)
    if ca is None:
        return []
    settings, _ = split_word_settings(kwargs)
    words, _, _ = extract_words_ca(ca.select(settings.extra_attrs), settings)
    return words.to_dict("records")


def collate_line(line_chars, tolerance=DEFAULT_X_TOLERANCE) -> str:
    """One text line from its chars, space on gaps > tolerance
    (``text.py:761-772``)."""
    ca = _char_arrays(line_chars)
    if ca is None:
        return ""
    return layout.collate_line(ca, tolerance)


def dedupe_chars(chars, tolerance=1) -> List[dict]:
    """Drop near-duplicate chars, original order restored
    (``text.py:784-804``, kernel ``dedupe_keep_mask``)."""
    objs = to_list(chars)
    ca = _char_arrays(objs)
    if ca is None:
        return []
    keep = dedupe_keep_mask(
        (ca.extra["fontname"], ca.size, ca.upright, ca.text),
        ca.doctop, ca.x0, tolerance,
    )
    return [o for o, k in zip(objs, keep) if k]
