"""pdfminer-style layout analysis (LAParams): chars -> textlines ->
textboxes.

Re-implements the PUBLIC pdfminer.six algorithm (layout.py:
LTLayoutContainer.group_objects / group_textlines, LTTextLineHorizontal /
LTTextLineVertical.find_neighbors) that the reference exposes via
``pdfplumber.open(laparams=...)`` (reference page.py:269-277,
container.py:32-66, tests/test_laparams.py). Counts and semantics are
pinned against the reference's own test expectations (27/79 on issue-13,
142/74/11/6 on issue-192 with detect_vertical).

Everything is page-local, so in the Spark engine this runs inside the same
mapInPandas pass as the rest of extraction.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Optional

import numpy as np

INF = float("inf")


@dataclass
class LAParams:
    line_overlap: float = 0.5
    char_margin: float = 2.0
    line_margin: float = 0.5
    word_margin: float = 0.1
    boxes_flow: Optional[float] = 0.5
    detect_vertical: bool = False
    all_texts: bool = False

    @classmethod
    def resolve(cls, spec) -> Optional["LAParams"]:
        if spec is None:
            return None
        if isinstance(spec, cls):
            return spec
        return cls(**dict(spec))


class _Line:
    """LTTextLine analogue: bbox grows as chars append; word_margin inserts
    space annos; analyze() appends the newline anno."""

    __slots__ = ("vertical", "word_margin", "x0", "y0", "x1", "y1",
                 "_wx1", "_wy0", "chars", "pieces")

    def __init__(self, vertical: bool, word_margin: float):
        self.vertical = vertical
        self.word_margin = word_margin
        self.x0, self.y0, self.x1, self.y1 = INF, INF, -INF, -INF
        self._wx1 = INF   # LTTextLineHorizontal._x1 initial +INF
        self._wy0 = -INF  # LTTextLineVertical._y0 initial -INF
        self.chars: List[int] = []  # char row indices
        self.pieces: List[str] = []

    def add(self, idx: int, cx0, cy0, cx1, cy1, ctext):
        wm = self.word_margin
        if wm:
            margin = wm * max(cx1 - cx0, cy1 - cy0)
            if not self.vertical:
                if self._wx1 < cx0 - margin:
                    self.pieces.append(" ")
            else:
                if cy1 < self._wy0 - margin:
                    self.pieces.append(" ")
        self._wx1 = cx1
        self._wy0 = cy0
        self.chars.append(idx)
        self.pieces.append(ctext if ctext is not None else "")
        self.x0 = min(self.x0, cx0)
        self.y0 = min(self.y0, cy0)
        self.x1 = max(self.x1, cx1)
        self.y1 = max(self.y1, cy1)

    @property
    def width(self):
        return self.x1 - self.x0

    @property
    def height(self):
        return self.y1 - self.y0

    def is_empty(self):
        """LTTextLine.is_empty: geometric-empty OR whitespace-only text —
        such lines stay page objects but never join a textbox."""
        if self.width <= 0 or self.height <= 0:
            return True
        t = "".join(self.pieces)
        return not t or t.isspace()

    def is_geom_empty(self):
        return self.width <= 0 or self.height <= 0

    def get_text(self):
        return "".join(self.pieces) + "\n"


def _group_chars(ch, laparams: LAParams) -> List[_Line]:
    """LTLayoutContainer.group_objects: sequential char grouping."""
    n = len(ch["x0"])
    x0, y0, x1, y1 = ch["x0"], ch["y0"], ch["x1"], ch["y1"]
    txt = ch["text"]
    lo, cm, dv = laparams.line_overlap, laparams.char_margin, laparams.detect_vertical
    wm = laparams.word_margin

    lines: List[_Line] = []
    line: Optional[_Line] = None
    prev = None  # previous char index
    for i in range(n):
        if prev is not None:
            p = prev
            ph, ih = y1[p] - y0[p], y1[i] - y0[i]
            pw, iw = x1[p] - x0[p], x1[i] - x0[i]
            # pdfminer LTComponent: voverlap/hdistance use min-abs spans
            # (NOT the geometric overlap — differs when one bbox nests)
            halign = False
            if y0[p] <= y1[i] and y0[i] <= y1[p]:  # is_voverlap
                voverlap = min(abs(y0[p] - y1[i]), abs(y1[p] - y0[i]))
                if min(ph, ih) * lo < voverlap:
                    if x0[p] <= x1[i] and x0[i] <= x1[p]:  # is_hoverlap
                        hdist = 0.0
                    else:
                        hdist = min(abs(x0[p] - x1[i]), abs(x1[p] - x0[i]))
                    if hdist < max(pw, iw) * cm:
                        halign = True
            valign = False
            if dv and x0[p] <= x1[i] and x0[i] <= x1[p]:  # is_hoverlap
                hoverlap = min(abs(x0[p] - x1[i]), abs(x1[p] - x0[i]))
                if min(pw, iw) * lo < hoverlap:
                    if y0[p] <= y1[i] and y0[i] <= y1[p]:
                        vdist = 0.0
                    else:
                        vdist = min(abs(y0[p] - y1[i]), abs(y1[p] - y0[i]))
                    if vdist < max(ph, ih) * cm:
                        valign = True
            k = (1 if halign else 0) | (2 if valign else 0)
            if (k & 1 and line is not None and not line.vertical) or (
                k & 2 and line is not None and line.vertical
            ):
                line.add(i, x0[i], y0[i], x1[i], y1[i], txt[i])
            elif line is not None:
                lines.append(line)
                line = None
            else:
                if k == 2:
                    line = _Line(True, wm)
                    line.add(p, x0[p], y0[p], x1[p], y1[p], txt[p])
                    line.add(i, x0[i], y0[i], x1[i], y1[i], txt[i])
                elif k == 1:
                    line = _Line(False, wm)
                    line.add(p, x0[p], y0[p], x1[p], y1[p], txt[p])
                    line.add(i, x0[i], y0[i], x1[i], y1[i], txt[i])
                else:
                    single = _Line(False, wm)
                    single.add(p, x0[p], y0[p], x1[p], y1[p], txt[p])
                    lines.append(single)
        prev = i
    if line is None:
        line = _Line(False, wm)
        if prev is not None:
            line.add(prev, x0[prev], y0[prev], x1[prev], y1[prev], txt[prev])
    lines.append(line)
    return lines


def _find_neighbors(lines: List[_Line], laparams: LAParams) -> List[list]:
    """Vectorized LTTextLine.find_neighbors over all lines (exact pdfminer
    predicate; O(n^2) numpy instead of the Plane grid — same result set)."""
    n = len(lines)
    x0 = np.array([ln.x0 for ln in lines])
    y0 = np.array([ln.y0 for ln in lines])
    x1 = np.array([ln.x1 for ln in lines])
    y1 = np.array([ln.y1 for ln in lines])
    vert = np.array([ln.vertical for ln in lines])
    w = x1 - x0
    h = y1 - y0
    out = []
    for i in range(n):
        if not vert[i]:
            d = laparams.line_margin * h[i]
            # plane.find: strict overlap with expanded bbox
            hit = ~(
                (x1 <= x0[i]) | (x1[i] <= x0)
                | (y1 <= y0[i] - d) | (y1[i] + d <= y0)
            )
            hit &= ~vert
            hit &= np.abs(h - h[i]) <= d
            aligned = (
                (np.abs(x0 - x0[i]) <= d)
                | (np.abs(x1 - x1[i]) <= d)
                | (np.abs((x0 + x1) / 2 - (x0[i] + x1[i]) / 2) <= d)
            )
            hit &= aligned
        else:
            d = laparams.line_margin * w[i]
            hit = ~(
                (x1 <= x0[i] - d) | (x1[i] + d <= x0)
                | (y1 <= y0[i]) | (y1[i] <= y0)
            )
            hit &= vert
            hit &= np.abs(w - w[i]) <= d
            aligned = (
                (np.abs(y0 - y0[i]) <= d)
                | (np.abs(y1 - y1[i]) <= d)
                | (np.abs((y0 + y1) / 2 - (y0[i] + y1[i]) / 2) <= d)
            )
            hit &= aligned
        out.append(np.flatnonzero(hit).tolist())
    return out


def _group_textlines(lines: List[_Line], laparams: LAParams):
    """LTLayoutContainer.group_textlines: neighbor closure -> boxes."""
    neighbors = _find_neighbors(lines, laparams)
    boxes = {}  # line idx -> box (list container, shared)
    for i in range(len(lines)):
        nbrs = neighbors[i]
        members = [i]
        for j in nbrs:
            members.append(j)
            if j in boxes:
                prev_box = boxes.pop(j)
                members.extend(prev_box)
        box: List[int] = []
        seen = set()
        for j in members:
            if j in seen:
                continue
            seen.add(j)
            box.append(j)
            boxes[j] = box
    done = set()
    out = []
    for i in range(len(lines)):
        if i not in boxes:
            continue
        box = boxes[i]
        bid = id(box)
        if bid in done:
            continue
        done.add(bid)
        bx0 = min(lines[j].x0 for j in box)
        by0 = min(lines[j].y0 for j in box)
        bx1 = max(lines[j].x1 for j in box)
        by1 = max(lines[j].y1 for j in box)
        if bx1 - bx0 > 0 and by1 - by0 > 0:
            out.append({"lines": box, "bbox": (bx0, by0, bx1, by1),
                        "vertical": lines[box[0]].vertical})
    return out


def analyze(ca, laparams: LAParams):
    """A page's chars (:class:`~.words.CharArrays` in rendering order,
    ``y0``/``y1`` in ``extra``) -> (textlines, textboxes, char_order).
    The line and box dict lists carry pdfplumber-style keys
    (x0/x1/top/bottom/text/object_type); ``char_order`` is the reading
    order, a permutation of the char positions with chars that fall in no
    textline last, in rendering order."""
    n = ca.n
    if n == 0:
        return [], [], np.zeros(0, dtype=np.int64)
    ch = {
        "x0": ca.x0, "x1": ca.x1,
        "y0": np.asarray(ca.extra["y0"], dtype=np.float64),
        "y1": np.asarray(ca.extra["y1"], dtype=np.float64),
        "text": ca.text,
    }
    # page y-extent: top = extent - y1
    top_off = ca.top[0] + ch["y1"][0]
    all_lines = _group_chars(ch, laparams)
    # pdfminer fsplit: whitespace/empty lines skip box grouping but remain
    # page objects (LTPage._objs = textboxes + otherobjs + empties)
    grouped = [ln for ln in all_lines if not ln.is_empty()]
    empties = [ln for ln in all_lines
               if ln.is_empty() and not ln.is_geom_empty()]
    boxes = _group_textlines(grouped, laparams)
    # reading order (boxes_flow approximation of pdfminer's
    # group_textboxes + IndexAssigner): top-to-bottom, then left-to-right —
    # pinned by reference test_basics.py:167-172 (first char top 66.384)
    boxes.sort(key=lambda b: (-(b["bbox"][3]), b["bbox"][0]))
    ordered_line_ids = [j for b in boxes for j in b["lines"]]
    textlines = [grouped[j] for j in ordered_line_ids] + empties
    read = np.array([i for ln in textlines for i in ln.chars], dtype=np.int64)
    unseen = np.ones(n, dtype=bool)
    unseen[read] = False
    char_order = np.concatenate([read, np.flatnonzero(unseen)])

    def mk(obj_type, x0, y0, x1, y1, text):
        return {
            "object_type": obj_type,
            "x0": x0, "x1": x1, "y0": y0, "y1": y1,
            "width": x1 - x0, "height": y1 - y0,
            "text": text,
            "top": top_off - y1, "bottom": top_off - y0,
        }

    line_rows = []
    for ln in textlines:
        kind = "textlinevertical" if ln.vertical else "textlinehorizontal"
        line_rows.append(mk(kind, ln.x0, ln.y0, ln.x1, ln.y1, ln.get_text()))
    box_rows = []
    for b in boxes:
        kind = "textboxvertical" if b["vertical"] else "textboxhorizontal"
        text = "".join(grouped[j].get_text() for j in b["lines"])
        box_rows.append(mk(kind, *b["bbox"], text))
    return line_rows, box_rows, char_order
