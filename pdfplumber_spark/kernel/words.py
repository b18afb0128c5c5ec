"""Char -> word assembly, vectorized over numpy arrays.

Re-expresses the reference's ``WordExtractor``
(pdfplumber ``utils/text.py:423-688``) as columnar passes,
each made once over all the chars of a page, never per line or per char:

1. *adjacent* grouping by (upright, extra_attrs) — change-flag cumsum over
   ingestion order (itertools.groupby semantics, ``text.py:667-668``);
2. lines: chained tolerance clustering of the line-direction key on
   distinct values (``text.py:641-657``), within each group, in one sort
   by (group, key);
3. order: one stable sort by (line, char-direction key) (``text.py:661``),
   so ingestion order breaks ties;
4. word-boundary flags between consecutive kept chars
   (``char_begins_new_word``, ``text.py:516-591``): a new line,
   regression (cx < ax), intra-line gap measured prev-END -> curr-START
   (cx > bx + x_tol), inter-line TOP -> TOP (cy > ay + y_tol); blanks
   end words; split-at-punctuation chars become single-char words
   (``text.py:593-639``); blank, punctuation and ligature expansion are
   looked up once per distinct char text;
5. word merge: word ids by cumsum, per-word bbox via ``reduceat`` segment
   aggregation, texts sliced out of one join of the expanded char texts,
   first-char attrs (``text.py:490-514``).

Rotated and upright chars differ only in the direction each pass reads,
so both go through the same passes, their keys picked per char.
"""

from __future__ import annotations

import copy
import string as _string
from dataclasses import dataclass, field
from typing import List, Optional, Sequence, Tuple

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
        """The columns of a char frame. A core column the frame lacks is
        None, so a kernel reads only the columns it needs (``collate_line``
        text/x0/x1; ``simple_text`` doctop too); ``doctop`` defaults to
        ``top`` and ``height`` to ``bottom - top``."""
        def col(c, dtype=np.float64):
            return chars[c].to_numpy(dtype) if c in chars.columns else None

        self.n = len(chars)
        self.text = col("text", object)
        self.x0, self.x1, self.top, self.bottom, self.size = (
            col(c) for c in ("x0", "x1", "top", "bottom", "size"))
        self.doctop = col("doctop") if "doctop" in chars.columns else self.top
        self.height = col("height")
        if self.height is None and self.top is not None and self.bottom is not None:
            self.height = self.bottom - self.top
        self.upright = col("upright", None)
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
        """These chars carrying exactly the ``attrs`` columns in ``extra``
        (the word kernel groups chars on every ``extra`` column, so it
        selects its settings' ``extra_attrs`` first); a name missing from
        ``extra`` is read from the core fields (``size``, ``x0``, ...)."""
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
                  "size", "upright"):
            v = getattr(self, f)
            setattr(out, f, None if v is None else v[idx])
        out.n = len(out.text)
        out.extra = {a: v[idx] for a, v in self.extra.items()}
        return out


def _char_key_arrays(ca: CharArrays, char_dir: str) -> Tuple[np.ndarray, np.ndarray]:
    """Primary+secondary in-line sort key (``text.py:54-60``)."""
    if char_dir == "ttb":
        return ca.top, ca.bottom
    if char_dir == "btt":
        return -(ca.top + ca.height), -ca.top
    if char_dir == "ltr":
        return ca.x0, ca.x0
    return -ca.x1, -ca.x0  # rtl


def _axis_arrays(ca: CharArrays, idx, direction: str) -> Tuple[np.ndarray, ...]:
    """The boundary test's values along ``direction`` (``text.py:531-584``):
    each char's start and end along the line and its start across it,
    negated for rtl/btt so one comparison serves every direction."""
    if direction == "ltr":
        return ca.x0[idx], ca.x1[idx], ca.top[idx]
    if direction == "rtl":
        return -ca.x1[idx], -ca.x0[idx], ca.top[idx]
    if direction == "ttb":
        return ca.top[idx], ca.bottom[idx], ca.x0[idx]
    return -ca.bottom[idx], -ca.top[idx], ca.x0[idx]  # btt


def _by_upright(up: np.ndarray, d_up: str, d_rot: str, arrays) -> tuple:
    """The tuple ``arrays(direction)`` row by row: for direction ``d_up``
    where ``up`` holds, ``d_rot`` elsewhere (one call when every row
    shares a direction)."""
    if d_up == d_rot or up.all():
        return arrays(d_up)
    if not up.any():
        return arrays(d_rot)
    return tuple(np.where(up, a, b) for a, b in zip(arrays(d_up), arrays(d_rot)))


def _line_ids(key: np.ndarray, tol, group: np.ndarray) -> np.ndarray:
    """Line id per char: :func:`cluster.assign_clusters` of ``key`` with
    tolerance ``tol`` (a scalar, or per char and constant within a group)
    inside each adjacent group, numbered by group, then by cluster
    position. It is :func:`cluster.cluster_ids_for_distinct` over all the
    groups at once, read on consecutive sorted values."""
    o = np.lexsort((key, group))
    k, g = key[o], group[o]
    t = tol if np.ndim(tol) == 0 else tol[o][1:]
    # the chained rule on sorted values: a new distinct value past the
    # tolerance starts a line; with tolerance 0 every distinct value does
    # (NaNs are one value, as in np.unique)
    distinct = k[1:] != k[:-1]
    brk = distinct & (k[1:] > k[:-1] + t)
    if np.any(t == 0):
        brk = np.where(t == 0, distinct & ~(np.isnan(k[1:]) & np.isnan(k[:-1])), brk)
    new = np.empty(len(k), dtype=bool)
    new[0] = True
    new[1:] = (g[1:] != g[:-1]) | brk
    ids = np.empty(len(k), dtype=np.int64)
    ids[o] = np.cumsum(new) - 1
    return ids


# column shims: the words of layout.py, the chars of the word kernel
def _f64(col) -> np.ndarray:
    """Column -> float64 ndarray; accepts pandas Series and the numpy
    columns of WordArrays."""
    return np.asarray(col, dtype=np.float64)


def line_cluster_values(df, line_dir: str) -> np.ndarray:
    """Line-clustering key values (``text.py:45-51``) of the chars or
    words in ``df`` (any mapping of columns)."""
    if line_dir == "ttb":
        return _f64(df["top"])
    if line_dir == "btt":
        return -_f64(df["bottom"])
    if line_dir == "ltr":
        return _f64(df["x0"])
    return -_f64(df["x1"])


def _text_tables(ca: CharArrays, s: WordSettings):
    """``(codes, is_blank, is_punct, etext, etext_len)``: ``codes`` maps
    each char to its distinct text; the rest hold, per distinct text,
    whether it is a blank that ends a word, whether it is split-at
    punctuation (a word of its own), and the text with ligatures expanded
    and its length.

    NB: `"" in punct` is True for ANY punct string (incl. ""), so
    empty-text chars always split as single-char words — a reference
    quirk (text.py:621: `text in self.split_at_punctuation`)."""
    texts = ca.text.tolist()
    code_of = {t: i for i, t in enumerate(dict.fromkeys(texts))}
    codes = np.fromiter(map(code_of.__getitem__, texts), np.int64, len(texts))
    uniq = list(code_of)
    keep_blank, punct, exp = s.keep_blank_chars, s._punct, s._expansions
    is_blank = np.array(
        [not keep_blank and bool(t) and str(t).isspace() for t in uniq], dtype=bool)
    is_punct = np.array([str(t) in punct for t in uniq], dtype=bool) & ~is_blank
    etext = np.array([exp.get(t, t) for t in uniq], dtype=object)
    etext_len = np.array([len(t) for t in etext], dtype=np.int64)
    return codes, is_blank, is_punct, etext, etext_len


def extract_words_frame(
    chars: pd.DataFrame, settings: Optional[WordSettings] = None
):
    """:func:`extract_words_ca` over a char frame, its words as a DataFrame
    (the traced benchmark's hook name; the package calls the array form)."""
    s = settings or WordSettings()
    words, cwid, cwpos = extract_words_ca(CharArrays(chars, s.extra_attrs), s)
    return pd.DataFrame(dict(words)), cwid, cwpos


class WordArrays(dict):
    """One page's words as columns: ``words[col]`` is a numpy array (the
    numeric columns) or a list, and ``len()`` counts words, not columns.
    The kernels read columns; :meth:`records` gives the word dicts of the
    public ``extract_words``."""

    __slots__ = ()

    def __len__(self) -> int:  # noqa: D105 - rows, not keys
        t = self.get("text")
        return 0 if t is None else len(t)

    def records(self) -> List[dict]:
        """One dict per word, keys in column order, values native Python
        scalars (what ``DataFrame.to_dict("records")`` gives)."""
        cols = list(self)
        vals = (v.tolist() if isinstance(v, np.ndarray) else v
                for v in self.values())
        return [dict(zip(cols, row)) for row in zip(*vals)]


def extract_words_ca(
    ca: CharArrays, settings: Optional[WordSettings] = None,
) -> Tuple[WordArrays, np.ndarray, np.ndarray]:
    """Words of one page's chars (ingestion order), the one word kernel.

    Returns ``(words, char_word_id, char_word_pos)``: ``words`` holds one
    row per word in the reference's emission order, ``char_word_id[i]``
    maps the i-th char to its word index (-1 = dropped blank) and
    ``char_word_pos[i]`` is the char's position within its word
    (assignment order, which differs from input order for btt/rtl lines).
    Word columns: text, x0, x1, top, doctop, bottom, upright, height,
    width, direction, then ``settings.extra_attrs``. Chars group on
    exactly those extra attrs, whatever other columns ``ca`` carries."""
    s = settings or WordSettings()
    ca = ca.select(s.extra_attrs)
    cols = ["text", "x0", "x1", "top", "doctop", "bottom", "upright",
            "height", "width", "direction", *s.extra_attrs]
    n = ca.n
    char_word_id = np.full(n, -1, dtype=np.int64)
    char_word_pos = np.full(n, -1, dtype=np.int64)
    empty = WordArrays({c: [] for c in cols}), char_word_id, char_word_pos
    if n == 0:
        return empty
    codes, is_blank, is_punct, etext, etext_len = _text_tables(ca, s)

    # 1. adjacent grouping by (upright, *extra_attrs); a group's upright is
    # its first char's, as an int
    change = np.zeros(n, dtype=bool)
    for v in (ca.upright, *ca.extra.values()):
        change[1:] |= v[1:] != v[:-1]
    change[0] = True
    group = np.cumsum(change) - 1
    g_up = ca.upright[change].astype(np.int64)
    up = (g_up != 0)[group]

    # 2-3. order by group, line, then the char-direction key; the sort is
    # stable, so ingestion order breaks ties
    if s.use_text_flow:
        d_up = d_rot = s.char_dir
        order, line = np.arange(n), group
    else:
        d_up, d_rot = s.char_dir_for(1), s.char_dir_for(0)
        l_up, l_rot = s.line_dir_for(1), s.line_dir_for(0)
        box = {"top": ca.top, "bottom": ca.bottom, "x0": ca.x0, "x1": ca.x1}
        (key,) = _by_upright(up, l_up, l_rot, lambda d: (line_cluster_values(box, d),))
        t_up, t_rot = (s.y_tolerance if d in ("ttb", "btt") else s.x_tolerance
                       for d in (l_up, l_rot))
        line = _line_ids(key, t_up if t_up == t_rot else np.where(up, t_up, t_rot), group)
        k1, k2 = _by_upright(up, d_up, d_rot, lambda d: _char_key_arrays(ca, d))
        order = np.lexsort((k2, k1, line))
    at = np.flatnonzero(~is_blank[codes[order]])
    kept = order[at]  # the kept (non-blank) chars in word order
    if len(kept) == 0:
        return empty

    # 4. word boundaries between consecutive kept chars (text.py:516-639):
    # a new line, punctuation on either side, a dropped blank between, or
    # a geometric break: regression (cx < ax), a gap past the previous
    # char's end (cx > bx + x_tol) or across the line (cy > ay + y_tol),
    # tolerances swapped for vertical text and ratio tolerances keyed on
    # the previous char's size
    prev = kept[:-1]
    ax, bx, ay = _by_upright(up[kept], d_up, d_rot,
                             lambda d: _axis_arrays(ca, kept, d))
    size = ca.size[prev] if ca.size is not None else None
    tx, ty = (
        t if (r is None or size is None) else r * size
        for t, r in ((s.x_tolerance, s.x_tolerance_ratio),
                     (s.y_tolerance, s.y_tolerance_ratio))
    )
    intra, inter = _by_upright(up[prev], d_up, d_rot,
                               lambda d: (tx, ty) if d in ("ltr", "rtl") else (ty, tx))
    k_line = line[kept]
    k_code = codes[kept]
    k_punct = is_punct[k_code]
    new = np.empty(len(kept), dtype=bool)
    new[0] = True
    new[1:] = (
        (k_line[1:] != k_line[:-1]) | k_punct[1:] | k_punct[:-1]
        | (np.diff(at) > 1)
        | (ax[1:] < ax[:-1]) | (ax[1:] > bx[:-1] + intra)
        | (ay[1:] > ay[:-1] + inter)
    )

    # 5. merge (text.py:490-514): ids by cumsum, bboxes by reduceat, texts
    # sliced out of one join of the expanded char texts
    wid = np.cumsum(new) - 1
    starts = np.flatnonzero(new)
    char_word_id[kept] = wid
    char_word_pos[kept] = np.arange(len(kept)) - starts[wid]
    x0 = np.minimum.reduceat(ca.x0[kept], starts)
    x1 = np.maximum.reduceat(ca.x1[kept], starts)
    top = np.minimum.reduceat(ca.top[kept], starts)
    bottom = np.maximum.reduceat(ca.bottom[kept], starts)
    firsts = kept[starts]
    joined = "".join(etext[k_code].tolist())
    off = np.zeros(len(kept) + 1, dtype=np.int64)
    np.cumsum(etext_len[k_code], out=off[1:])
    ends = np.append(starts[1:], len(kept))
    w_up = g_up[group[firsts]]
    data = {
        "text": [joined[i:j] for i, j in zip(off[starts].tolist(), off[ends].tolist())],
        "x0": x0,
        "x1": x1,
        "top": top,
        "doctop": top + (ca.doctop[firsts] - ca.top[firsts]),
        "bottom": bottom,
        "upright": w_up.tolist(),
        "height": bottom - top,
        "width": x1 - x0,
        "direction": np.where(w_up != 0, d_up, d_rot).tolist(),
    }
    for attr in s.extra_attrs:
        data[attr] = ca.extra[attr][firsts]
    return WordArrays(data), char_word_id, char_word_pos


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
