"""Lattice / stream / explicit table detection — per-page array kernel.

Re-expresses the reference pdfplumber ``table.py`` over numpy arrays:

- :class:`EdgeArrays` — a page's edges as a struct of arrays, built
  straight from a parsed page's line/rect/curve rows (``from_interp``, the
  plans) or from edge records (``from_records``: the facade's
  ``page.edges``, explicit lines), each such edge keeping its record;
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

The extraction plans call ``find_tables`` per page inside their
``mapInPandas`` task, on ``EdgeArrays.from_interp`` of one parse; the
facade calls it on ``EdgeArrays.from_records(page.edges)``, and its debug
edge records are those records as merging moved them. ``merge_edges_frame``
takes an edge frame (tests); ``find_tables_frame`` is kept only as the
benchmark's traced hook name and for tests.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

import numpy as np
import pandas as pd

from . import layout
from .cluster import assign_clusters, group_rows_by_cluster
from .geom import curve_orientation, curve_segments, edge_mask, obj_to_edges
from .pdfparse import LINE_COLUMNS
from .words import CharArrays

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
    object_type) and ``rec``, each edge's record (:meth:`from_records`) or
    None for an edge built from parser rows or words; ``rec`` itself is
    None when no edge has a record."""

    __slots__ = ("x0", "x1", "top", "bottom", "width", "height", "ori",
                 "otype", "rec")

    def __init__(self, x0, x1, top, bottom, width, height, ori, otype,
                 rec=None):
        self.x0, self.x1, self.top, self.bottom, self.width, self.height = (
            np.asarray(v, dtype=np.float64)
            for v in (x0, x1, top, bottom, width, height)
        )
        self.ori = np.asarray(ori, dtype=object)
        self.otype = np.asarray(otype, dtype=object)
        self.rec = rec

    def __len__(self) -> int:
        return len(self.x0)

    def take(self, idx) -> "EdgeArrays":
        return EdgeArrays(*(getattr(self, f)[idx] for f in self.__slots__[:8]),
                          None if self.rec is None else self.rec[idx])

    def filter(self, ori=None, edge_type=None, min_length: float = 1) -> "EdgeArrays":
        return self.take(edge_mask(self.ori, self.otype, self.width,
                                   self.height, ori, edge_type, min_length))

    @classmethod
    def concat(cls, parts: List["EdgeArrays"]) -> "EdgeArrays":
        """Parts in order; a part without records gives its edges None."""
        rec = None
        if any(p.rec is not None for p in parts):
            rec = np.concatenate([
                np.full(len(p), None, dtype=object) if p.rec is None else p.rec
                for p in parts])
        return cls(*(np.concatenate([getattr(p, f) for p in parts])
                     for f in cls.__slots__[:8]), rec)

    @classmethod
    def from_rows(cls, coords, ori, otype: str) -> "EdgeArrays":
        """Edges from (x0, x1, top, bottom, width, height) rows."""
        a = np.asarray(coords, dtype=np.float64).reshape(-1, 6)
        return cls(*a.T, ori, np.full(len(a), otype, dtype=object))

    @classmethod
    def from_records(cls, records: List[dict]) -> "EdgeArrays":
        """Edges from edge records (``geom.obj_to_edges`` output, explicit
        edge dicts), each kept as its edge's ``rec``. A missing coordinate
        reads NaN, which is no line; a missing orientation or object_type
        reads None."""
        rec = np.empty(len(records), dtype=object)
        rec[:] = records
        return cls(*([r.get(c, np.nan) for r in records] for c in EDGE_COLS[:6]),
                   *([r.get(c) for r in records] for c in EDGE_COLS[6:]), rec)

    @classmethod
    def from_interp(cls, it) -> "EdgeArrays":
        """A parsed page's edges, straight from its parser line, rect and
        curve rows, in the order and with the arithmetic of
        ``geom.obj_to_edges`` over their records (``geometry.py:189-250``):
        one edge per line (h iff top == bottom), top/bottom/left/right per
        rect, one per consecutive curve point pair (h, v or oblique)."""
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
    ``grow`` how far its end grew: the moves :func:`_moved_records` replays
    onto the edges' records."""
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


def _moved_records(e: EdgeArrays, shift, grow) -> List[dict]:
    """The records of merged edges ``e``: each edge's ``rec`` moved as
    :func:`merge_edges` moved it, as the reference's move_object /
    resize_object move a dict (``geometry.py:128-186``). Snapping shifts a
    v edge's x0/x1, and an h edge's top/bottom with its doctop and y0/y1;
    a join grows an h edge's x1 and width, or a v edge's bottom and height
    with its y0. An edge without a record gets its :data:`EDGE_COLS`."""
    cols = [getattr(e, f).tolist() for f in EdgeArrays.__slots__[:8]]
    shifts = [None] * len(e) if shift is None else shift.tolist()
    recs = [None] * len(e) if e.rec is None else e.rec
    out = []
    for i, (r, d, g) in enumerate(zip(recs, shifts, grow.tolist())):
        if r is None:
            out.append(dict(zip(EDGE_COLS, (c[i] for c in cols))))
            continue
        r = dict(r)
        h = cols[6][i] == "h"
        if d is not None:
            moves = ((("top", d), ("bottom", d), ("doctop", d), ("y0", -d),
                      ("y1", -d)) if h else (("x0", d), ("x1", d)))
            for k, v in moves:
                if r.get(k) is not None:
                    r[k] = r[k] + v
        if g > 0 and h:
            r["x1"] = cols[1][i]
            r["width"] = r["x1"] - r["x0"]
        elif g > 0:
            r["bottom"] = cols[3][i]
            r["height"] = r["height"] + g
            if r.get("y0") is not None:
                r["y0"] = r["y0"] - g
        out.append(r)
    return out


def merge_edges_frame(
    edges: pd.DataFrame,
    snap_x_tolerance: float,
    snap_y_tolerance: float,
    join_x_tolerance: float,
    join_y_tolerance: float,
) -> pd.DataFrame:
    """:func:`merge_edges` over an edge frame: the surviving rows, merged
    (tests)."""
    merged = merge_edges(
        EdgeArrays.from_records(edges.to_dict("records")), snap_x_tolerance,
        snap_y_tolerance, join_x_tolerance, join_y_tolerance,
    )
    return pd.DataFrame(_moved_records(*merged), columns=edges.columns)


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
    EdgeArrays.

    Band θ-join vectorized by numpy broadcasting over the (v, h) cross
    product (``table.py:207-231``); edge lists keep the reference's
    (x0, top)-sorted enumeration order.
    """
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
    None, empty -> "". Each cell's text is ``utils.extract_text`` of its
    chars under ``text_settings``; when ``"layout"`` is among them, the
    layout bbox, width and height are the cell's.
    """
    ts = text_settings or {}
    hmid = (page_chars.x0 + page_chars.x1) / 2
    vmid = (page_chars.top + page_chars.bottom) / 2

    def inside(idx, bbox):
        x0, top, x1, bottom = bbox
        h, v = hmid[idx], vmid[idx]
        return idx[(h >= x0) & (h < x1) & (v >= top) & (v < bottom)]

    out = []
    for row in table_rows(cells):
        present = [c for c in row if c]
        row_idx = inside(np.arange(page_chars.n), (
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
            cell_ts = ts
            if "layout" in ts:
                cell_ts = {**ts, "layout_bbox": cell,
                           "layout_width": cell[2] - cell[0],
                           "layout_height": cell[3] - cell[1]}
            settings, kwargs = layout.text_args(cell_ts, cell)
            # looked up per call so the traced benchmark's wrapper sees it
            arr.append(layout.page_text_ca(page_chars.take(idx), settings,
                                           **kwargs))
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
):
    """The TableFinder pipeline (``table.py:566-671``) over a page's
    EdgeArrays: strategy matrix -> merge_edges -> min-length filter ->
    intersections -> cells -> tables. ``words`` (a word frame or
    WordArrays) feeds the "text" strategy. Returns a list of tables, each a
    list of cell bboxes; ``debug=True`` returns the intermediate state
    instead (reference page.py:427-431), its edge records each surviving
    edge's ``rec`` as merging moved it (:func:`_moved_records`)."""
    snap_x = snap_tolerance if snap_x_tolerance is None else snap_x_tolerance
    snap_y = snap_tolerance if snap_y_tolerance is None else snap_y_tolerance
    join_x = join_tolerance if join_x_tolerance is None else join_x_tolerance
    join_y = join_tolerance if join_y_tolerance is None else join_y_tolerance
    int_x = intersection_tolerance if intersection_x_tolerance is None else intersection_x_tolerance
    int_y = intersection_tolerance if intersection_y_tolerance is None else intersection_y_tolerance

    parts: List[EdgeArrays] = []
    for ori, strat, explicit, w2e, min_words in (
        ("v", vertical_strategy, explicit_vertical_lines, words_to_edges_v, min_words_vertical),
        ("h", horizontal_strategy, explicit_horizontal_lines, words_to_edges_h, min_words_horizontal),
    ):
        if strat == "explicit" and (explicit is None or len(explicit) < 2):
            raise ValueError(
                f"explicit strategy for {ori} requires >= 2 explicit lines"
            )
        if strat == "lines":
            parts.append(edges.filter(ori))
        elif strat == "lines_strict":
            parts.append(edges.filter(ori, edge_type="line"))
        elif strat == "text":
            if words is None:
                raise ValueError("text strategy requires words")
            parts.append(w2e(words, min_words))
        elif strat != "explicit":
            raise ValueError(strat)
        exp_rows = []
        for val in explicit or []:
            if isinstance(val, dict):
                # object descriptor: an *_edge passes through, a
                # line/rect/curve converts to its edges; only edges of
                # this orientation are kept (table.py:601-607)
                exp_rows.extend(
                    e for e in obj_to_edges(val) if e["orientation"] == ori
                )
                continue
            if page_bbox is None:
                raise ValueError("explicit numeric lines require page_bbox")
            x0, top, x1, bottom = map(float, page_bbox)
            val = float(val)
            coords = ((val, val, top, bottom, 0.0, bottom - top) if ori == "v"
                      else (x0, x1, val, val, x1 - x0, 0.0))
            exp_rows.append(dict(zip(EDGE_COLS, (*coords, ori, "explicit_edge"))))
        if exp_rows:
            parts.append(EdgeArrays.from_records(exp_rows))

    parts = [e for e in parts if len(e)]
    all_edges = (
        EdgeArrays.concat(parts) if parts else EdgeArrays.from_rows([], [], "")
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
    records = _moved_records(
        final, None if shift is None else shift[keep], grow[keep])
    # the vertex edge boxes carry the records' values (an integer
    # coordinate of an explicit object dict no snap moved stays an int)
    box = {}
    for r in records:
        b = (r["x0"], r["top"], r["x1"], r["bottom"])
        box[tuple(map(float, b))] = b
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
    """:func:`find_tables` over an edge frame's records (the benchmark's
    traced hook name; tests)."""
    return find_tables(EdgeArrays.from_records(edges.to_dict("records")),
                       words, page_bbox, debug=debug, **settings)
