"""Lattice / stream / explicit table detection — per-page array kernel.

Re-expresses the reference pdfplumber ``table.py`` over numpy arrays:

- :class:`EdgeArrays` — a page's edges as a struct of arrays, built
  straight from the parser's line/rect/curve rows (``from_interp``) or from
  an edge frame (``from_frame``);
- ``merge_edges`` — snap to cluster means (``assign_clusters`` plus a
  bincount mean) and interval union per infinite line (one lexsort over
  (orientation, position, start), run ids from a segmented
  ``maximum.accumulate``) (``table.py:21-98``);
- ``words_to_edges_h`` / ``words_to_edges_v`` — phantom edges from word
  alignment for the "text" strategy (``table.py:101-204``);
- ``find_intersections`` — v×h band θ-join, vectorized with numpy
  broadcasting instead of the reference's nested loop (``table.py:207-231``);
- ``intersections_to_cells`` — smallest-cell search per vertex
  (``table.py:234-294``), first-match-in-sorted-order semantics preserved;
- ``cells_to_tables`` — connected components by transitive corner sharing
  (union-find instead of the reference's fixed-point scan, same components
  and same output order: tables sorted by their (top, x0)-minimal corner,
  1-cell tables dropped, ``table.py:297-355``);
- ``table_rows`` / ``extract_table_text`` — row pivot against the distinct
  column x0 set (merged cell -> None) and per-cell text: the page's char
  centres once, then ``page_text_ca`` on each cell's char subset
  (``table.py:389-435``);
- ``find_tables`` — the TableFinder pipeline over those pieces.

``find_tables_frame`` and ``merge_edges_frame`` adapt the kernel to edge
frames (the facade, tests); ``find_intersections`` also takes frames. The extraction plans call the
kernel per page inside their ``mapInPandas`` task, on the buffers of one
parse.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

import numpy as np
import pandas as pd

from . import layout
from .cluster import assign_clusters, group_rows_by_cluster
from .geom import curve_orientation, curve_segments, edge_mask
from .pdfparse import LINE_COLUMNS
from .words import CharArrays, split_word_settings

DEFAULT_SNAP_TOLERANCE = 3
DEFAULT_JOIN_TOLERANCE = 3
DEFAULT_MIN_WORDS_VERTICAL = 3
DEFAULT_MIN_WORDS_HORIZONTAL = 1

EDGE_COLS = [
    "x0", "x1", "top", "bottom", "width", "height", "orientation", "object_type",
]
# positions of the edge coordinates in a parser line/rect/curve row
_ROW_COORDS = [LINE_COLUMNS.index(c) for c in EDGE_COLS[:6]]
_ROW_PTS = LINE_COLUMNS.index("pts")


class EdgeArrays:
    """A page's edges as a struct of arrays: the six coordinates,
    ``ori`` ('h', 'v' or None for an oblique curve segment), ``otype`` (the
    object_type) and ``src``, each edge's row in the source it was built
    from (the debug records are rebuilt from it)."""

    __slots__ = ("x0", "x1", "top", "bottom", "width", "height", "ori",
                 "otype", "src")

    def __init__(self, x0, x1, top, bottom, width, height, ori, otype,
                 src=None):
        self.x0, self.x1, self.top, self.bottom, self.width, self.height = (
            np.asarray(v, dtype=np.float64)
            for v in (x0, x1, top, bottom, width, height)
        )
        self.ori = np.asarray(ori, dtype=object)
        self.otype = np.asarray(otype, dtype=object)
        self.src = np.arange(len(self.x0)) if src is None else src

    def __len__(self) -> int:
        return len(self.x0)

    def take(self, idx) -> "EdgeArrays":
        return EdgeArrays(*(getattr(self, f)[idx] for f in self.__slots__))

    def filter(self, ori=None, edge_type=None, min_length: float = 1) -> "EdgeArrays":
        return self.take(edge_mask(self.ori, self.otype, self.width,
                                   self.height, ori, edge_type, min_length))

    def to_frame(self) -> pd.DataFrame:
        return pd.DataFrame(dict(zip(
            EDGE_COLS, (getattr(self, f) for f in self.__slots__[:8]))))

    @classmethod
    def concat(cls, parts: List["EdgeArrays"]) -> "EdgeArrays":
        """Parts in order; ``src`` becomes the position in the result."""
        return cls(*(np.concatenate([getattr(p, f) for p in parts])
                     for f in cls.__slots__[:8]))

    @classmethod
    def from_rows(cls, coords, ori, otype: str) -> "EdgeArrays":
        """Edges from (x0, x1, top, bottom, width, height) rows."""
        a = np.asarray(coords, dtype=np.float64).reshape(-1, 6)
        return cls(*a.T, ori, np.full(len(a), otype, dtype=object))

    @classmethod
    def from_frame(cls, df: pd.DataFrame) -> "EdgeArrays":
        return cls(*(df[c].to_numpy(np.float64) for c in EDGE_COLS[:6]),
                   *(df[c].to_numpy(object) for c in EDGE_COLS[6:]))

    @classmethod
    def from_interp(cls, it) -> "EdgeArrays":
        """A parsed page's edges, in the order and with the arithmetic of
        ``geom.lines_to_edges`` / ``rects_to_edges`` / ``curves_to_edges``
        (``geometry.py:189-250``): one edge per line (h iff top == bottom),
        top/bottom/left/right per rect, one per consecutive curve point
        pair (h, v or oblique)."""
        def coords(rows):
            return np.array([[r[i] for i in _ROW_COORDS] for r in rows],
                            dtype=np.float64).reshape(-1, 6)

        ln = coords(it.lines)
        lines = cls.from_rows(
            ln, np.where(ln[:, 2] == ln[:, 3], "h", "v").astype(object), "line")
        x0, x1, top, bottom, w, h = coords(it.rects).T
        zero = np.zeros(len(x0))
        rects = cls.from_rows(
            np.stack([
                np.stack(c, axis=1).ravel() for c in (
                    (x0, x0, x0, x1), (x1, x1, x0, x1),
                    (top, top + h, top, top), (top, bottom, bottom, bottom),
                    (w, w, zero, zero), (zero, zero, h, h),
                )
            ], axis=1),
            np.tile(np.array(["h", "h", "v", "v"], dtype=object), len(x0)),
            "rect_edge",
        )
        _, a, b = curve_segments([r[_ROW_PTS] for r in it.curves])
        ax, ay, bx, by = a[:, 0], a[:, 1], b[:, 0], b[:, 1]
        curves = cls.from_rows(
            np.stack([np.minimum(ax, bx), np.maximum(ax, bx),
                      np.minimum(ay, by), np.maximum(ay, by),
                      np.abs(ax - bx), np.abs(ay - by)], axis=1),
            curve_orientation(ax, ay, bx, by), "curve_edge",
        )
        return cls.concat([lines, rects, curves])


def _dict_to_edges(obj: dict) -> List[dict]:
    """One object dict -> its edge dicts (reference utils.obj_to_edges,
    geometry.py:253-260) via the frame converters."""
    from .geom import curves_to_edges, lines_to_edges, rects_to_edges

    t = str(obj.get("object_type") or "")
    if "_edge" in t:
        return [obj]
    conv = {"line": lines_to_edges, "rect": rects_to_edges,
            "curve": curves_to_edges}.get(t)
    if conv is None:
        raise ValueError(f"cannot convert object_type {t!r} to edges")
    frame = conv(pd.DataFrame([obj]))
    return frame.to_dict("records")


def _edge_frame(rows: List[dict]) -> pd.DataFrame:
    df = pd.DataFrame(rows)
    for c in EDGE_COLS:
        if c not in df.columns:
            df[c] = np.nan if c not in ("orientation", "object_type") else None
    return df


def merge_edges(
    edges: EdgeArrays,
    snap_x_tolerance: float,
    snap_y_tolerance: float,
    join_x_tolerance: float,
    join_y_tolerance: float,
):
    """snap (if either tolerance > 0) then join per (orientation, position)
    line (``table.py:21-98``) -> ``(merged, shift, grow)``.

    Snap moves each v edge's x0/x1 and each h edge's top/bottom by its
    cluster's mean minus its own value (mean over rows, repeats weighted).
    Join sorts by (orientation, position, start) — 'h' lines by top, then
    'v' lines by x0, ties in input order; a segment joins the current run
    when its start <= the run's max end + tolerance, and the survivor is
    the run's first edge, its end grown to the run's max end. ``shift`` is
    the move snapping gave each survivor (None when no snap ran) and
    ``grow`` how far its end grew: the moves :func:`_edge_records` replays
    onto the dependent attrs."""
    e = edges.take((edges.ori == "h") | (edges.ori == "v"))
    h = e.ori == "h"
    shift = None
    if snap_x_tolerance > 0 or snap_y_tolerance > 0:
        shift = np.zeros(len(e))
        for m, tol, a, b in ((~h, snap_x_tolerance, e.x0, e.x1),
                             (h, snap_y_tolerance, e.top, e.bottom)):
            if not m.any():
                continue
            vals = a[m]
            cids = assign_clusters(vals, tol)
            d = (np.bincount(cids, weights=vals) / np.bincount(cids))[cids] - vals
            a[m] += d
            b[m] += d
            shift[m] = d
    pos = np.where(h, e.top, e.x0)
    keep = ~np.isnan(pos)  # a NaN position is no line (groupby drops it)
    e, h, pos = e.take(keep), h[keep], pos[keep]
    if shift is not None:
        shift = shift[keep]
    if not len(e):
        return e, shift, np.zeros(0)
    lo = np.where(h, e.x0, e.top)
    hi = np.where(h, e.x1, e.bottom)
    order = np.lexsort((lo, pos, ~h))
    pos, lo, hi, hs = pos[order], lo[order], hi[order], h[order]
    first = np.ones(len(order), dtype=bool)
    first[1:] = (pos[1:] != pos[:-1]) | (hs[1:] != hs[:-1])
    # running max end within each line: dense ranks offset by line id keep
    # one maximum.accumulate from crossing lines
    uniq, rank = np.unique(hi, return_inverse=True)
    offset = (np.cumsum(first) - 1) * len(uniq)
    run_max = uniq[np.maximum.accumulate(offset + rank) - offset]
    new_run = first.copy()
    new_run[1:] |= lo[1:] > run_max[:-1] + np.where(
        hs[1:], join_x_tolerance, join_y_tolerance)
    starts = np.flatnonzero(new_run)
    max_end = np.maximum.reduceat(hi, starts)
    out = e.take(order[starts])
    grow = np.where(max_end > hi[starts], max_end - hi[starts], 0.0)
    gh, gv = (grow > 0) & hs[starts], (grow > 0) & ~hs[starts]
    out.x1[gh] = max_end[gh]
    out.width[gh] = out.x1[gh] - out.x0[gh]
    out.bottom[gv] = max_end[gv]
    out.height[gv] = out.height[gv] + grow[gv]
    return out, None if shift is None else shift[order[starts]], grow


def _edge_records(source: pd.DataFrame, e: EdgeArrays, shift, grow) -> pd.DataFrame:
    """The ``source`` rows of merged edges ``e`` with their final
    coordinates and the dependent attrs moved as the reference's
    move_object / resize_object move them (``geometry.py:128-186``): a y
    snap shifts an h edge's doctop and y0/y1, a grown v bottom lowers y0.
    A column keeps the source's values (and dtype) unless snapping or
    joining moved some edge along it, as the frame pipeline left it."""
    out = source.iloc[e.src].reset_index(drop=True)
    h = e.ori == "h"
    gh, gv = (grow > 0) & h, (grow > 0) & ~h
    moved = set()
    moves = [("y0", gv, -grow)]
    if shift is not None:
        moved |= {"x0", "x1"} if (~h).any() else set()
        moved |= {"top", "bottom"} if h.any() else set()
        moves += [("doctop", h, shift), ("y1", h, -shift), ("y0", h, -shift)]
    moved |= {"x1", "width"} if gh.any() else set()
    moved |= {"bottom", "height"} if gv.any() else set()
    for c in moved:
        out[c] = getattr(e, c)
    for c, m, d in moves:
        if c in out.columns and m.any():
            col = out[c].to_numpy()
            out[c] = np.where(m, col + d, col)
    return out


def merge_edges_frame(
    edges: pd.DataFrame,
    snap_x_tolerance: float,
    snap_y_tolerance: float,
    join_x_tolerance: float,
    join_y_tolerance: float,
) -> pd.DataFrame:
    """:func:`merge_edges` over an edge frame: the surviving rows, merged."""
    if len(edges) == 0:
        return edges
    merged = merge_edges(
        EdgeArrays.from_frame(edges), snap_x_tolerance, snap_y_tolerance,
        join_x_tolerance, join_y_tolerance,
    )
    return _edge_records(edges, *merged)


def words_to_edges_h(
    words, word_threshold: int = DEFAULT_MIN_WORDS_HORIZONTAL
) -> EdgeArrays:
    """Phantom horizontal edges at tops+bottoms of word rows
    (``table.py:101-141``); ``words`` is a word frame or WordArrays."""
    if len(words) == 0:
        return EdgeArrays.from_rows([], [], "phantom_edge")
    x0s, tops, x1s, bottoms = (
        np.asarray(words[c], dtype=np.float64) for c in ("x0", "top", "x1", "bottom")
    )
    cids = assign_clusters(tops, 1)
    rects = [
        (x0s[g].min(), tops[g].min(), x1s[g].max(), bottoms[g].max())
        for g in group_rows_by_cluster(cids, False) if len(g) >= word_threshold
    ]
    if not rects:
        return EdgeArrays.from_rows([], [], "phantom_edge")
    min_x0 = min(r[0] for r in rects)
    max_x1 = max(r[2] for r in rects)
    ys = [y for r in rects for y in (r[1], r[3])]
    return EdgeArrays.from_rows(
        [(min_x0, max_x1, y, y, max_x1 - min_x0, 0.0) for y in ys],
        ["h"] * len(ys), "phantom_edge",
    )


def words_to_edges_v(
    words, word_threshold: int = DEFAULT_MIN_WORDS_VERTICAL
) -> EdgeArrays:
    """Phantom vertical edges from left/right/center word alignment
    (``table.py:144-204``). The greedy overlap condensation (first-come by
    descending cluster size) is order-dependent and kept sequential."""
    if len(words) == 0:
        return EdgeArrays.from_rows([], [], "phantom_edge")
    x0s, x1s, tops, bottoms = (
        np.asarray(words[c], dtype=np.float64) for c in ("x0", "x1", "top", "bottom")
    )
    centers = (x0s + x1s) / 2.0

    clusters: List[np.ndarray] = []
    for vals in (x0s, x1s, centers):
        cids = assign_clusters(vals, 1)
        clusters.extend(group_rows_by_cluster(cids, False))

    # stable sort by descending size, keep >= threshold
    sizes = np.array([len(c) for c in clusters])
    order = np.argsort(-sizes, kind="stable")
    big = [clusters[i] for i in order if len(clusters[i]) >= word_threshold]

    bboxes = [(x0s[g].min(), tops[g].min(), x1s[g].max(), bottoms[g].max())
              for g in big]

    condensed: List[Tuple[float, float, float, float]] = []
    for bbox in bboxes:
        overlaps = False
        for c in condensed:
            ow = min(bbox[2], c[2]) - max(bbox[0], c[0])
            oh = min(bbox[3], c[3]) - max(bbox[1], c[1])
            if ow >= 0 and oh >= 0 and (ow + oh) > 0:
                overlaps = True
                break
        if not overlaps:
            condensed.append(bbox)

    if not condensed:
        return EdgeArrays.from_rows([], [], "phantom_edge")
    sorted_boxes = sorted(condensed, key=lambda b: b[0])
    max_x1 = max(b[2] for b in sorted_boxes)
    min_top = min(b[1] for b in sorted_boxes)
    max_bottom = max(b[3] for b in sorted_boxes)
    xs = [b[0] for b in sorted_boxes] + [max_x1]
    return EdgeArrays.from_rows(
        [(x, x, min_top, max_bottom, 0.0, max_bottom - min_top) for x in xs],
        ["v"] * len(xs), "phantom_edge",
    )


def find_intersections(
    edges, x_tolerance: float = 1, y_tolerance: float = 1
) -> Dict[Tuple[float, float], Dict[str, List[Tuple[float, float, float, float]]]]:
    """Vertex map {(x, top): {'v': [v bboxes], 'h': [h bboxes]}} of
    EdgeArrays or an edge frame.

    Band θ-join vectorized by numpy broadcasting over the (v, h) cross
    product (``table.py:207-231``); edge lists keep the reference's
    (x0, top)-sorted enumeration order.
    """
    if isinstance(edges, pd.DataFrame):
        edges = EdgeArrays.from_frame(edges)
    v = edges.take(edges.ori == "v")
    h = edges.take(edges.ori == "h")
    if len(v) == 0 or len(h) == 0:
        return {}
    v = v.take(np.lexsort((v.top, v.x0)))
    h = h.take(np.lexsort((h.x0, h.top)))
    hit = (
        (v.top[:, None] <= h.top[None, :] + y_tolerance)
        & (v.bottom[:, None] >= h.top[None, :] - y_tolerance)
        & (v.x0[:, None] >= h.x0[None, :] - x_tolerance)
        & (v.x0[:, None] <= h.x1[None, :] + x_tolerance)
    )
    vbox = list(zip(v.x0.tolist(), v.top.tolist(), v.x1.tolist(), v.bottom.tolist()))
    hbox = list(zip(h.x0.tolist(), h.top.tolist(), h.x1.tolist(), h.bottom.tolist()))
    out: Dict[Tuple[float, float], Dict[str, list]] = {}
    # iterate v-major (reference loop order) — nonzero already row-major
    for vi, hi in zip(*np.nonzero(hit)):
        slot = out.setdefault((vbox[vi][0], hbox[hi][1]), {"v": [], "h": []})
        slot["v"].append(vbox[vi])
        slot["h"].append(hbox[hi])
    return out


def intersections_to_cells(intersections) -> List[Tuple[float, float, float, float]]:
    """Smallest cell per vertex (``table.py:234-294``).

    For each vertex (in sorted order): scan candidates directly below and
    right; accept the first (below, right) pair whose 4th corner exists and
    whose 4 sides are each covered by a shared edge.
    """
    vsets = {p: set(d["v"]) for p, d in intersections.items()}
    hsets = {p: set(d["h"]) for p, d in intersections.items()}

    def connects(p1, p2) -> bool:
        if p1[0] == p2[0] and vsets[p1] & vsets[p2]:
            return True
        if p1[1] == p2[1] and hsets[p1] & hsets[p2]:
            return True
        return False

    points = sorted(intersections.keys())
    n = len(points)
    cells = []
    for i, pt in enumerate(points):
        if i == n - 1:
            break
        rest = points[i + 1 :]
        below = [x for x in rest if x[0] == pt[0]]
        right = [x for x in rest if x[1] == pt[1]]
        found = None
        for bp in below:
            if not connects(pt, bp):
                continue
            for rp in right:
                if not connects(pt, rp):
                    continue
                corner = (rp[0], bp[1])
                if (
                    corner in intersections
                    and connects(corner, rp)
                    and connects(corner, bp)
                ):
                    found = (pt[0], pt[1], corner[0], corner[1])
                    break
            if found:
                break
        if found:
            cells.append(found)
    return cells


def cells_to_tables(cells: List[Tuple[float, float, float, float]]) -> List[List[Tuple]]:
    """Group cells into tables by transitive corner sharing (union-find),
    then sort tables by (top, x0)-minimal corner and drop singletons
    (``table.py:297-355``)."""
    n = len(cells)
    if n == 0:
        return []
    parent = list(range(n))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra

    corner_owner: Dict[Tuple[float, float], int] = {}
    for i, (x0, top, x1, bottom) in enumerate(cells):
        for c in ((x0, top), (x0, bottom), (x1, top), (x1, bottom)):
            if c in corner_owner:
                union(corner_owner[c], i)
            else:
                corner_owner[c] = i

    comps: Dict[int, List[Tuple]] = {}
    for i, cell in enumerate(cells):
        comps.setdefault(find(i), []).append(cell)

    tables = sorted(comps.values(), key=lambda t: min((c[1], c[0]) for c in t))
    return [t for t in tables if len(t) > 1]


def table_rows(cells: List[Tuple[float, float, float, float]]):
    """Row structure: cells sorted by (top, x0), grouped by top, pivoted
    against the sorted distinct x0 set; missing -> None (``table.py:389-397``)."""
    _sorted = sorted(cells, key=lambda c: (c[1], c[0]))
    xs = sorted(set(c[0] for c in cells))
    rows = []
    i = 0
    while i < len(_sorted):
        y = _sorted[i][1]
        row_cells = []
        while i < len(_sorted) and _sorted[i][1] == y:
            row_cells.append(_sorted[i])
            i += 1
        xdict = {c[0]: c for c in row_cells}
        rows.append([xdict.get(x) for x in xs])
    return rows


def extract_table_text(
    cells: List[Tuple[float, float, float, float]],
    page_chars: CharArrays,
    text_settings: Optional[dict] = None,
) -> List[List[Optional[str]]]:
    """Per-cell text (``table.py:399-435``) from the page's CharArrays.

    IMPORTANT: chars come from the whole *page*, not a table crop
    (``table.py:401``): a char belongs to a cell when its centre lies in the
    half-open cell box (``table.py:404-410``). Merged (missing) cells ->
    None, empty -> "".
    """
    ts = dict(text_settings or {})
    layout_mode = bool(ts.pop("layout", False))
    settings, _ = split_word_settings(ts)
    ca = page_chars.select(settings.extra_attrs)
    hmid = (ca.x0 + ca.x1) / 2
    vmid = (ca.top + ca.bottom) / 2

    def inside(idx, bbox):
        x0, top, x1, bottom = bbox
        h, v = hmid[idx], vmid[idx]
        return idx[(h >= x0) & (h < x1) & (v >= top) & (v < bottom)]

    out = []
    for row in table_rows(cells):
        present = [c for c in row if c]
        row_idx = inside(np.arange(ca.n), (
            min(c[0] for c in present), min(c[1] for c in present),
            max(c[2] for c in present), max(c[3] for c in present),
        ))
        arr: List[Optional[str]] = []
        for cell in row:
            if cell is None:
                arr.append(None)
                continue
            idx = inside(row_idx, cell)
            if len(idx) == 0:
                arr.append("")
                continue
            kwargs = {}
            if layout_mode:
                kwargs = dict(
                    layout=True, layout_bbox=cell,
                    layout_width=cell[2] - cell[0],
                    layout_height=cell[3] - cell[1],
                )
            # looked up per call so the traced benchmark's wrapper sees it
            arr.append(layout.page_text_ca(ca.take(idx), settings, **kwargs))
        out.append(arr)
    return out


def find_tables(
    edges: EdgeArrays,
    words=None,
    page_bbox: Optional[Tuple[float, float, float, float]] = None,
    vertical_strategy: str = "lines",
    horizontal_strategy: str = "lines",
    explicit_vertical_lines: Optional[List] = None,
    explicit_horizontal_lines: Optional[List] = None,
    snap_tolerance: float = DEFAULT_SNAP_TOLERANCE,
    snap_x_tolerance: Optional[float] = None,
    snap_y_tolerance: Optional[float] = None,
    join_tolerance: float = DEFAULT_JOIN_TOLERANCE,
    join_x_tolerance: Optional[float] = None,
    join_y_tolerance: Optional[float] = None,
    edge_min_length: float = 3,
    min_words_vertical: int = DEFAULT_MIN_WORDS_VERTICAL,
    min_words_horizontal: int = DEFAULT_MIN_WORDS_HORIZONTAL,
    intersection_tolerance: float = 3,
    intersection_x_tolerance: Optional[float] = None,
    intersection_y_tolerance: Optional[float] = None,
    debug: bool = False,
    edge_frame: Optional[pd.DataFrame] = None,
):
    """The TableFinder pipeline (``table.py:566-671``) over a page's
    EdgeArrays: strategy matrix -> merge_edges -> min-length filter ->
    intersections -> cells -> tables. ``words`` (a word frame or
    WordArrays) feeds the "text" strategy. Returns a list of tables, each a
    list of cell bboxes; ``debug=True`` returns the intermediate state
    instead (reference page.py:427-431), its edge records rebuilt from the
    rows of ``edge_frame`` (the frame ``edges`` came from) and of the
    generated edges."""
    snap_x = snap_tolerance if snap_x_tolerance is None else snap_x_tolerance
    snap_y = snap_tolerance if snap_y_tolerance is None else snap_y_tolerance
    join_x = join_tolerance if join_x_tolerance is None else join_x_tolerance
    join_y = join_tolerance if join_y_tolerance is None else join_y_tolerance
    int_x = intersection_tolerance if intersection_x_tolerance is None else intersection_x_tolerance
    int_y = intersection_tolerance if intersection_y_tolerance is None else intersection_y_tolerance

    # (edges, the frame whose rows their src indexes: None -> to_frame())
    parts: List[Tuple[EdgeArrays, Optional[pd.DataFrame]]] = []
    for ori, strat, explicit, w2e, min_words in (
        ("v", vertical_strategy, explicit_vertical_lines, words_to_edges_v, min_words_vertical),
        ("h", horizontal_strategy, explicit_horizontal_lines, words_to_edges_h, min_words_horizontal),
    ):
        if strat == "explicit" and (explicit is None or len(explicit) < 2):
            raise ValueError(
                f"explicit strategy for {ori} requires >= 2 explicit lines"
            )
        if strat == "lines":
            parts.append((edges.filter(ori), edge_frame))
        elif strat == "lines_strict":
            parts.append((edges.filter(ori, edge_type="line"), edge_frame))
        elif strat == "text":
            if words is None:
                raise ValueError("text strategy requires words")
            parts.append((w2e(words, min_words), None))
        elif strat != "explicit":
            raise ValueError(strat)
        exp_rows = []
        for val in explicit or []:
            if isinstance(val, dict):
                # object descriptor (reference utils.obj_to_edges,
                # geometry.py:253-260): an *_edge passes through, a
                # line/rect/curve converts to its edges; only edges of
                # this orientation are kept (table.py:601-607)
                exp_rows.extend(
                    e for e in _dict_to_edges(val) if e["orientation"] == ori
                )
                continue
            if page_bbox is None:
                raise ValueError("explicit numeric lines require page_bbox")
            if ori == "v":
                exp_rows.append(
                    {
                        "x0": val, "x1": val,
                        "top": page_bbox[1], "bottom": page_bbox[3],
                        "width": 0.0, "height": page_bbox[3] - page_bbox[1],
                        "orientation": "v", "object_type": "explicit_edge",
                    }
                )
            else:
                exp_rows.append(
                    {
                        "x0": page_bbox[0], "x1": page_bbox[2],
                        "top": val, "bottom": val,
                        "width": page_bbox[2] - page_bbox[0], "height": 0.0,
                        "orientation": "h", "object_type": "explicit_edge",
                    }
                )
        if exp_rows:
            frame = _edge_frame(exp_rows)
            parts.append((EdgeArrays.from_frame(frame), frame))

    parts = [(e, f) for e, f in parts if len(e)]
    all_edges = (
        EdgeArrays.concat([e for e, _ in parts]) if parts
        else EdgeArrays.from_rows([], [], "")
    )
    merged, shift, grow = merge_edges(all_edges, snap_x, snap_y, join_x, join_y)
    keep = edge_mask(merged.ori, merged.otype, merged.width, merged.height,
                     min_length=edge_min_length)
    final = merged.take(keep)
    vertices = find_intersections(final, int_x, int_y)
    cells = intersections_to_cells(vertices)
    tables = cells_to_tables(cells)
    if not debug:
        return tables
    records = []
    if len(final):
        source = pd.concat(
            [f.iloc[e.src] if f is not None else e.to_frame() for e, f in parts],
            ignore_index=True,
        )
        frame = _edge_records(source, merged, shift, grow)[keep]
        records = frame.to_dict("records")
        # the vertex edge boxes carry the records' values (an integer
        # explicit line no snap moved stays an int)
        box = {tuple(map(float, b)): b for b in zip(
            frame["x0"], frame["top"], frame["x1"], frame["bottom"])}
        vertices = {p: {k: [box.get(b, b) for b in bs] for k, bs in d.items()}
                    for p, d in vertices.items()}
    return {
        "edges": records,
        "intersections": vertices,
        "cells": cells,
        "tables": tables,
    }


def find_tables_frame(edges: pd.DataFrame, words=None, page_bbox=None,
                      debug: bool = False, **settings):
    """:func:`find_tables` over an edge frame (the facade's page edges)."""
    return find_tables(EdgeArrays.from_frame(edges), words, page_bbox,
                       debug=debug, edge_frame=edges if debug else None,
                       **settings)
