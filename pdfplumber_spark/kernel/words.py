"""Char -> word assembly, vectorized over numpy arrays.

Re-expresses the reference's ``WordExtractor``
(``/root/reference/pdfplumber/utils/text.py:423-688``) as columnar passes:

1. *adjacent* grouping by (upright, extra_attrs) — change-flag cumsum over
   ingestion order (itertools.groupby semantics, ``text.py:667-668``);
2. per group: cluster chars into lines on the line-direction key
   (``text.py:641-657``), chained tolerance clustering on distinct values;
3. stable sort within each line by the char-direction key (``text.py:661``);
4. word-boundary flags over the line sequence (``char_begins_new_word``,
   ``text.py:516-591``): regression (cx < ax), intra-line gap measured
   prev-END -> curr-START (cx > bx + x_tol), inter-line TOP -> TOP
   (cy > ay + y_tol); blanks end words; split-at-punctuation chars become
   single-char words (``text.py:593-639``);
5. word merge: per-word bbox via ``reduceat`` segment aggregation + ordered
   concat with ligature expansion + first-char attrs (``text.py:490-514``).

The frame is decomposed into plain numpy arrays once up front; everything
after is fancy indexing — no pandas in the hot loop.
"""

from __future__ import annotations

import copy
import string as _string
from dataclasses import dataclass, field
from typing import Optional, Sequence, Tuple

import numpy as np
import pandas as pd

from .cluster import assign_clusters

DEFAULT_X_TOLERANCE = 3.0
DEFAULT_Y_TOLERANCE = 3.0

LIGATURES = {
    "ﬀ": "ff",
    "ﬃ": "ffi",
    "ﬄ": "ffl",
    "ﬁ": "fi",
    "ﬂ": "fl",
    "ﬆ": "st",
    "ﬅ": "st",
}

_VALID_DIRS = {"ttb", "btt", "ltr", "rtl"}


def validate_directions(line_dir: str, char_dir: str, suffix: str = "") -> None:
    if line_dir not in _VALID_DIRS:
        raise ValueError(f"line_dir{suffix} must be one of {_VALID_DIRS}, not {line_dir}")
    if char_dir not in _VALID_DIRS:
        raise ValueError(f"char_dir{suffix} must be one of {_VALID_DIRS}, not {char_dir}")
    if set(line_dir) == set(char_dir):
        raise ValueError(
            f"line_dir{suffix}={line_dir} is incompatible with char_dir{suffix}={char_dir}"
        )


@dataclass
class WordSettings:
    """Mirror of the WordExtractor kwargs (``text.py:424-476``)."""

    x_tolerance: float = DEFAULT_X_TOLERANCE
    y_tolerance: float = DEFAULT_Y_TOLERANCE
    x_tolerance_ratio: Optional[float] = None
    y_tolerance_ratio: Optional[float] = None
    keep_blank_chars: bool = False
    use_text_flow: bool = False
    vertical_ttb: bool = True
    horizontal_ltr: bool = True
    line_dir: str = "ttb"
    char_dir: str = "ltr"
    line_dir_rotated: Optional[str] = None
    char_dir_rotated: Optional[str] = None
    extra_attrs: Sequence[str] = field(default_factory=tuple)
    split_at_punctuation: object = False
    expand_ligatures: bool = True

    def __post_init__(self):
        self._line_dir_rotated = self.line_dir_rotated or self.char_dir
        self._char_dir_rotated = self.char_dir_rotated or self.line_dir
        validate_directions(self.line_dir, self.char_dir)
        validate_directions(self._line_dir_rotated, self._char_dir_rotated, "_rotated")
        if self.split_at_punctuation is True:
            self._punct = _string.punctuation
        else:
            self._punct = self.split_at_punctuation or ""
        self._expansions = LIGATURES if self.expand_ligatures else {}

    def char_dir_for(self, upright: int) -> str:
        # deprecation shims first (text.py:478-488)
        if not upright and not self.vertical_ttb:
            return "btt"
        if upright and not self.horizontal_ltr:
            return "rtl"
        return self.char_dir if upright else self._char_dir_rotated

    def line_dir_for(self, upright: int) -> str:
        return self.line_dir if upright else self._line_dir_rotated


# the parser's per-char numeric block columns, in block order
NUM_FIELDS = (
    "size", "adv", "upright", "x0", "x1", "y0", "y1", "top", "bottom",
    "doctop", "width", "height",
)
# per-char style columns in PageInterpreter.ch_style tuple order; only a
# style=True parse records them
STYLE_ATTRS = (
    "matrix", "stroking_color", "non_stroking_color", "ncs",
    "stroking_pattern", "non_stroking_pattern",
)


def needs_style(attrs: Sequence[str]) -> bool:
    """Whether char columns ``attrs`` need a style=True parse."""
    return any(a in STYLE_ATTRS for a in attrs)


def split_word_settings(kwargs: dict):
    """Split keyword arguments into (WordSettings, the rest)."""
    ws = {k: v for k, v in kwargs.items() if k in WordSettings.__dataclass_fields__}
    rest = {k: v for k, v in kwargs.items() if k not in ws}
    return WordSettings(**ws), rest


def _interp_column(it, attr: str, nums: np.ndarray) -> np.ndarray:
    """One per-char column of a parsed page (see CharArrays.from_interp)."""
    n = it.n_chars
    if attr in NUM_FIELDS:
        col = nums[:, NUM_FIELDS.index(attr)]
        return col.astype(np.int64) if attr == "upright" else col
    if attr == "fontname":
        return np.array(it.ch_font, dtype=object)
    if attr in ("mcid", "tag"):
        # marked-content spans: (chars emitted before the change, mcid, tag)
        k = 1 if attr == "mcid" else 2
        col = np.full(n, None, dtype=object)
        spans = it.mc_spans
        for i, span in enumerate(spans):
            end = spans[i + 1][0] if i + 1 < len(spans) else n
            if end > span[0]:
                col[span[0]:end] = span[k]
        return col
    if attr in STYLE_ATTRS:
        if len(it.ch_style) != n:  # style=False parse
            return np.full(n, None, dtype=object)
        k = STYLE_ATTRS.index(attr)
        return np.fromiter((st[k] for st in it.ch_style), dtype=object, count=n)
    if attr == "page_number":
        return np.full(n, it.page_number, dtype=np.int64)
    if attr == "char_index":
        return np.arange(n, dtype=np.int64)
    raise KeyError(attr)


# the per-char columns CharArrays holds as attributes
_CORE = ("text", "x0", "x1", "top", "bottom", "doctop", "height", "size",
         "upright")


class CharArrays:
    """Struct-of-arrays view of one page's chars."""

    __slots__ = (
        "n", "text", "x0", "x1", "top", "bottom", "doctop", "height",
        "size", "upright", "extra",
    )

    def __init__(self, chars: pd.DataFrame, extra_attrs: Sequence[str] = ()):
        self.n = len(chars)
        self.text = chars["text"].to_numpy(dtype=object)
        self.x0 = chars["x0"].to_numpy(np.float64)
        self.x1 = chars["x1"].to_numpy(np.float64)
        self.top = chars["top"].to_numpy(np.float64)
        self.bottom = chars["bottom"].to_numpy(np.float64)
        self.doctop = (
            chars["doctop"].to_numpy(np.float64)
            if "doctop" in chars.columns
            else self.top
        )
        self.height = (
            chars["height"].to_numpy(np.float64)
            if "height" in chars.columns
            else self.bottom - self.top
        )
        self.size = (
            chars["size"].to_numpy(np.float64) if "size" in chars.columns else None
        )
        self.upright = chars["upright"].to_numpy()
        self.extra = {a: chars[a].to_numpy(dtype=object) for a in extra_attrs}

    @classmethod
    def from_interp(cls, it, extra_attrs: Sequence[str] = ()) -> "CharArrays":
        """The one PageInterpreter -> char columns constructor, straight
        from the parser's buffers (no pandas). ``extra_attrs`` names the
        further columns to carry in ``extra``: text, fontname, any
        :data:`NUM_FIELDS` column, mcid/tag (marked-content spans expanded
        per char), page_number, char_index and the :data:`STYLE_ATTRS`
        (None unless the page was parsed with ``style=True``)."""
        nums = it.ch_num
        self = cls.__new__(cls)
        self.n = it.n_chars
        self.text = np.array(it.ch_text, dtype=object)
        self.size = nums[:, 0]
        self.upright = nums[:, 2].astype(np.int64)
        self.x0 = nums[:, 3]
        self.x1 = nums[:, 4]
        self.top = nums[:, 7]
        self.bottom = nums[:, 8]
        self.doctop = nums[:, 9]
        self.height = nums[:, 11]
        self.extra = {
            a: self.text if a == "text" else _interp_column(it, a, nums)
            for a in extra_attrs
        }
        return self

    def select(self, attrs: Sequence[str]) -> "CharArrays":
        """These chars carrying exactly the ``attrs`` columns in ``extra``,
        the form the word kernels take (they group chars on every
        ``extra`` column); a name missing from ``extra`` is read from the
        core fields (``size``, ``x0``, ...)."""
        out = copy.copy(self)
        out.extra = {
            a: self.extra[a] if a in self.extra or a not in _CORE
            else getattr(self, a)
            for a in attrs
        }
        return out

    def bbox(self) -> Tuple[float, float, float, float]:
        """Enclosing (x0, top, x1, bottom) of the chars."""
        return (float(self.x0.min()), float(self.top.min()),
                float(self.x1.max()), float(self.bottom.max()))

    def take(self, idx) -> "CharArrays":
        """The chars at ``idx`` (indices or a boolean mask), in that order."""
        out = CharArrays.__new__(CharArrays)
        for f in ("text", "x0", "x1", "top", "bottom", "doctop", "height",
                  "upright"):
            setattr(out, f, getattr(self, f)[idx])
        out.n = len(out.text)
        out.size = None if self.size is None else self.size[idx]
        out.extra = {a: v[idx] for a, v in self.extra.items()}
        return out


def _line_key_arrays(ca: CharArrays, idx: np.ndarray, line_dir: str) -> np.ndarray:
    """Line-clustering key values (``text.py:45-51``)."""
    if line_dir == "ttb":
        return ca.top[idx]
    if line_dir == "btt":
        return -ca.bottom[idx]
    if line_dir == "ltr":
        return ca.x0[idx]
    return -ca.x1[idx]  # rtl


def _char_key_arrays(
    ca: CharArrays, idx: np.ndarray, char_dir: str
) -> Tuple[np.ndarray, np.ndarray]:
    """Primary+secondary in-line sort key (``text.py:54-60``)."""
    if char_dir == "ttb":
        return ca.top[idx], ca.bottom[idx]
    if char_dir == "btt":
        t, h = ca.top[idx], ca.height[idx]
        return -(t + h), -t
    if char_dir == "ltr":
        x = ca.x0[idx]
        return x, x
    return -ca.x1[idx], -ca.x0[idx]  # rtl


# word-column shim (used by layout.py)
def _f64(col) -> np.ndarray:
    """Column -> float64 ndarray; accepts pandas Series AND the raw numpy
    columns of WordArrays (the no-pandas fast path)."""
    return np.asarray(col, dtype=np.float64)


def line_cluster_values(df, line_dir: str) -> np.ndarray:
    if line_dir == "ttb":
        return _f64(df["top"])
    if line_dir == "btt":
        return -_f64(df["bottom"])
    if line_dir == "ltr":
        return _f64(df["x0"])
    return -_f64(df["x1"])


def _page_text_tables(ca: CharArrays, s: WordSettings):
    """(is_blank, is_punct, etext) for the whole page in ONE memoized pass.

    Char text values are drawn from tiny per-font tables, so a dict memo
    turns three per-char Python passes (isspace, punct-set, ligature
    expansion) into one cached-lookup loop — a hot-path allocation saver.

    NB: `"" in punct` is True for ANY punct string (incl. ""), so
    empty-text chars always split as single-char words — a reference
    quirk (text.py:621: `text in self.split_at_punctuation`)."""
    n = ca.n
    keep_blank = s.keep_blank_chars
    punct = s._punct
    exp = s._expansions
    is_blank = np.empty(n, dtype=bool)
    is_punct = np.empty(n, dtype=bool)
    etext = np.empty(n, dtype=object) if exp else ca.text
    memo: dict = {}
    text = ca.text
    for i in range(n):
        t = text[i]
        r = memo.get(t)
        if r is None:
            ts = str(t)
            b = (not keep_blank) and bool(t) and ts.isspace()
            p = (ts in punct) and not b
            e = exp.get(t, t) if exp else t
            r = memo[t] = (b, p, e)
        is_blank[i] = r[0]
        is_punct[i] = r[1]
        if exp:
            etext[i] = r[2]
    return is_blank, is_punct, etext


def _boundary_word_ids(
    ca: CharArrays, idx: np.ndarray, direction: str, s: WordSettings,
    flags: Tuple[np.ndarray, np.ndarray],
) -> np.ndarray:
    """Word id per char of one line (indices ``idx``, already in final char
    order); -1 marks dropped blanks. Implements the stateful splitter
    (``text.py:593-639``) via shifts: the reference's ``current_word[-1]``
    is always the previous *kept* char; forced boundaries at/after
    punctuation words and after dropped blanks. ``flags`` are the page's
    (is_blank, is_punct) arrays from ``_page_text_tables``."""
    n = len(idx)
    is_blank = flags[0][idx]
    is_punct = flags[1][idx]

    kept = np.flatnonzero(~is_blank)
    out = np.full(n, -1, dtype=np.int64)
    if len(kept) == 0:
        return out

    if direction in ("ltr", "rtl"):
        if direction == "ltr":
            ax = ca.x0[idx]
            bx = ca.x1[idx]
            cx = ax
        else:
            ax = -ca.x1[idx]
            bx = -ca.x0[idx]
            cx = ax
        ay = ca.top[idx]
        cy = ay
        x_is_x = True
    else:
        if direction == "ttb":
            ax = ca.top[idx]
            bx = ca.bottom[idx]
            cx = ax
        else:
            ax = -ca.bottom[idx]
            bx = -ca.top[idx]
            cx = ax
        ay = ca.x0[idx]
        cy = ay
        x_is_x = False

    size = ca.size[idx] if ca.size is not None else None
    prev = kept[:-1]
    curr = kept[1:]
    # intra/inter tolerance swap for vertical text (text.py:557-575);
    # ratio tolerances key off the *previous* char's size (text.py:629-630)
    if x_is_x:
        xt, xtr, yt, ytr = (
            s.x_tolerance, s.x_tolerance_ratio, s.y_tolerance, s.y_tolerance_ratio,
        )
    else:
        xt, xtr, yt, ytr = (
            s.y_tolerance, s.y_tolerance_ratio, s.x_tolerance, s.x_tolerance_ratio,
        )
    xtol = xt if (xtr is None or size is None) else xtr * size[prev]
    ytol = yt if (ytr is None or size is None) else ytr * size[prev]

    geo_break = (
        (cx[curr] < ax[prev])
        | (cx[curr] > bx[prev] + xtol)
        | (cy[curr] > ay[prev] + ytol)
    )
    forced = is_punct[curr] | is_punct[prev] | ((curr - prev) > 1)
    new_flag = np.empty(len(kept), dtype=bool)
    new_flag[0] = True
    new_flag[1:] = forced | geo_break
    out[kept] = np.cumsum(new_flag) - 1
    return out


def extract_words_frame(
    chars: pd.DataFrame, settings: Optional[WordSettings] = None
):
    """Extract words from a char frame (one page, ingestion order).

    Returns ``(words, char_word_id, char_word_pos)`` where ``words`` has one
    row per word in the reference's emission order, ``char_word_id[i]`` maps
    the i-th char row to its word index (-1 = dropped blank) and
    ``char_word_pos[i]`` is the char's position within its word (assignment
    order — differs from input order for btt/rtl lines). Word columns: text,
    x0, x1, top, doctop, bottom, upright, height, width, direction
    (+extra_attrs).
    """
    s = settings or WordSettings()
    return extract_words_ca(CharArrays(chars, s.extra_attrs), s)


class WordArrays(dict):
    """Column dict standing in for the words DataFrame on the no-pandas
    fast path (``as_frame=False``): same ``words[col]`` access, but values
    are raw numpy arrays / lists and ``len()`` counts ROWS like a frame.
    Building a real pandas frame costs ~1.8 ms/page — ~15% of single-core
    extraction — and the text-assembly consumers only read columns."""

    __slots__ = ()

    def __len__(self) -> int:  # noqa: D105 - rows, not keys
        t = self.get("text")
        return 0 if t is None else len(t)


def extract_words_ca(
    ca: CharArrays, settings: Optional[WordSettings] = None,
    as_frame: bool = True,
):
    """Array-native form of extract_words_frame (same returns); the
    extraction fast path calls this straight from parser buffers.
    ``as_frame=False`` skips the pandas DataFrame build and returns
    :class:`WordArrays` (column-compatible for the assembly consumers)."""
    s = settings or WordSettings()
    cols = ["text", "x0", "x1", "top", "doctop", "bottom", "upright",
            "height", "width", "direction", *s.extra_attrs]
    n = ca.n
    char_word_id = np.full(n, -1, dtype=np.int64)
    char_word_pos = np.full(n, -1, dtype=np.int64)
    if n == 0:
        empty = (
            pd.DataFrame(columns=cols)
            if as_frame
            else WordArrays({c: [] for c in cols})
        )
        return empty, char_word_id, char_word_pos

    # blank/punct flags + ligature expansion in one memoized pass
    is_blank, is_punct, etext = _page_text_tables(ca, s)
    page_flags = (is_blank, is_punct)

    # 1. adjacent grouping by (upright, *extra_attrs)
    change = np.zeros(n, dtype=bool)
    for v in (ca.upright, *ca.extra.values()):
        change[1:] |= v[1:] != v[:-1]
    change[0] = True
    group_bounds = np.flatnonzero(change)
    group_bounds = np.append(group_bounds, n)

    # output accumulators (one entry per word)
    w_text: list = []
    w_x0: list = []
    w_x1: list = []
    w_top: list = []
    w_bottom: list = []
    w_doctop_adj: list = []
    w_first: list = []
    w_upright: list = []
    w_dir: list = []
    next_word = 0

    for gi in range(len(group_bounds) - 1):
        gidx = np.arange(group_bounds[gi], group_bounds[gi + 1])
        upright = int(ca.upright[gidx[0]])
        char_dir = s.char_dir_for(upright)

        if s.use_text_flow:
            line_slices = [gidx]
            direction = s.char_dir
        else:
            line_dir = s.line_dir_for(upright)
            vals = _line_key_arrays(ca, gidx, line_dir)
            tol = s.y_tolerance if line_dir in ("ttb", "btt") else s.x_tolerance
            cids = assign_clusters(vals, tol)
            # groups ordered by cluster id; stable within (clustering.py:60-66)
            order = np.argsort(cids, kind="stable")
            sorted_cids = cids[order]
            bounds = np.flatnonzero(np.diff(sorted_cids) != 0) + 1
            line_slices = [gidx[o] for o in np.split(order, bounds)]
            direction = char_dir

        for lidx in line_slices:
            if not s.use_text_flow:
                k1, k2 = _char_key_arrays(ca, lidx, direction)
                lidx = lidx[np.lexsort((k2, k1))]  # stable; primary = k1
            wids = _boundary_word_ids(ca, lidx, direction, s, flags=page_flags)
            kept_mask = wids >= 0
            if not kept_mask.any():
                continue
            kept_rows = lidx[kept_mask]
            kept_wids = wids[kept_mask]
            char_word_id[kept_rows] = kept_wids + next_word
            # segment starts (kept_wids is nondecreasing over line order)
            starts = np.flatnonzero(
                np.concatenate(([True], np.diff(kept_wids) != 0))
            )
            pos = np.arange(len(kept_wids)) - starts[
                np.searchsorted(starts, np.arange(len(kept_wids)), "right") - 1
            ]
            char_word_pos[kept_rows] = pos
            n_words = len(starts)

            # merge (text.py:490-514) via reduceat segment aggregation
            w_x0.append(np.minimum.reduceat(ca.x0[kept_rows], starts))
            w_x1.append(np.maximum.reduceat(ca.x1[kept_rows], starts))
            w_top.append(np.minimum.reduceat(ca.top[kept_rows], starts))
            w_bottom.append(np.maximum.reduceat(ca.bottom[kept_rows], starts))
            firsts = kept_rows[starts]
            w_first.append(firsts)
            w_doctop_adj.append(ca.doctop[firsts] - ca.top[firsts])
            seg_text = etext[kept_rows]
            ends = np.append(starts[1:], len(kept_rows))
            w_text.extend(
                "".join(seg_text[a:b]) for a, b in zip(starts, ends)
            )
            w_upright.extend([upright] * n_words)
            w_dir.extend([direction] * n_words)
            next_word += n_words

    if not w_first:
        empty = (
            pd.DataFrame(columns=cols)
            if as_frame
            else WordArrays({c: [] for c in cols})
        )
        return empty, char_word_id, char_word_pos

    x0 = np.concatenate(w_x0)
    x1 = np.concatenate(w_x1)
    top = np.concatenate(w_top)
    bottom = np.concatenate(w_bottom)
    doctop_adj = np.concatenate(w_doctop_adj)
    firsts = np.concatenate(w_first)
    data = {
        "text": w_text,
        "x0": x0,
        "x1": x1,
        "top": top,
        "doctop": top + doctop_adj,
        "bottom": bottom,
        "upright": w_upright,
        "height": bottom - top,
        "width": x1 - x0,
        "direction": w_dir,
    }
    for a in s.extra_attrs:
        data[a] = ca.extra[a][firsts]
    if not as_frame:
        return WordArrays(data), char_word_id, char_word_pos
    return pd.DataFrame(data, columns=cols), char_word_id, char_word_pos


def dedupe_keep_mask(
    keys: Sequence, doctop: np.ndarray, x0: np.ndarray, tolerance: float = 1
) -> np.ndarray:
    """Keep mask of ``dedupe_chars`` (``text.py:784-804``) over per-char
    arrays.

    ``keys`` holds the per-char (fontname, size, upright, text) columns.
    Within each key group, positions cluster on doctop then x0 (chained,
    ``tolerance``) and the (doctop, x0)-minimum of each 2-D cluster is
    kept, the earliest char on ties. None is an ordinary key value, as in the reference's
    ``itertools.groupby`` (a pandas groupby would drop those chars)."""
    groups: dict = {}
    cols = [k.tolist() if hasattr(k, "tolist") else k for k in keys]
    for i, k in enumerate(zip(*cols)):
        groups.setdefault(k, []).append(i)
    keep = np.zeros(len(doctop), dtype=bool)
    for rows in groups.values():
        if len(rows) == 1:
            keep[rows[0]] = True
            continue
        rows = np.asarray(rows)
        ycl = assign_clusters(doctop[rows], tolerance)
        for yc in np.unique(ycl):
            sub = rows[ycl == yc]
            xcl = assign_clusters(x0[sub], tolerance)
            for xc in np.unique(xcl):
                cell = sub[xcl == xc]
                keep[cell[np.lexsort((x0[cell], doctop[cell]))[0]]] = True
    return keep
