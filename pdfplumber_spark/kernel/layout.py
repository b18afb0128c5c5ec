"""Text assembly: words -> lines -> rendered page text (+ provenance map).

``page_text_ca`` is the one char -> text implementation: plain and layout
mode plus render directions, straight from :class:`CharArrays` (parser
buffers, a facade page's chars, or char records).
``page_search`` is the one search path: ``page_textmap`` builds the
provenance-carrying textmap of a page's :class:`CharArrays` and
``search_text`` maps each regex match back to its chars' bbox.
``Page.search``, ``Page.extract_text_lines`` and the Spark search and
text-line plans all call it. ``text_args`` is the one place
``extract_text`` kwargs become word settings and layout geometry for
both: every caller (the facade, ``utils``, table cells and the text plan)
passes chars plus those kwargs.

Re-expresses the reference's WordMap/TextMap
(``pdfplumber/utils/text.py:95-420,713-781``) as one pass per page:

- ``_line_order`` — the words in output order plus a line-start flag:
  words clustered into lines on the line-direction key (one stable
  argsort), or adjacent runs under use_text_flow. Plain text (joined with
  single spaces / newlines, ``text.py:743-758``), the plain textmap and
  layout text all walk it.
- ``_word_rows`` — every word's source chars, ligature-expanded, as one
  ``rows`` array sliced by ``offsets``: the provenance of each word's text.
- ``assemble_text_layout`` — density-based layout imputation: newlines
  imputed from line position / y_density, spaces from word position /
  x_density, with Python banker's ``round`` (``text.py:241-420``).
- ``render_directions`` — btt/rtl render post-transforms: reverse lines /
  reverse chars / pad + transpose columns (``text.py:113-143``).
- ``simple_text`` — extract_text_simple: doctop clusters + ``collate_line``
  over :class:`CharArrays` (``text.py:761-781``).
- ``search_text`` — regex over the rendered string, spans mapped back to
  source chars through the provenance array, match bboxes computed over
  the ``CharArrays`` columns (``text.py:145-210``).

The provenance array maps every output character to a source-char row index
(-1 for imputed whitespace) — the columnar equivalent of TextMap.tuples.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

import numpy as np
import pandas as pd

from .cluster import assign_clusters, group_rows_by_cluster
from .words import (
    DEFAULT_X_TOLERANCE,
    DEFAULT_Y_TOLERANCE,
    CharArrays,
    WordSettings,
    extract_words_ca,
    line_cluster_values,
    split_word_settings,
    validate_directions,
)

DEFAULT_X_DENSITY = 7.25
DEFAULT_Y_DENSITY = 13.0

_BBOX_ORIGIN_IDX = {"ttb": 1, "btt": 3, "ltr": 0, "rtl": 2}
_POSITION_COL = {"ttb": "top", "btt": "bottom", "ltr": "x0", "rtl": "x1"}


def render_order(text: str, line_dir_render: str,
                 char_dir_render: str) -> Optional[np.ndarray]:
    """The render post-transform (``text.py:113-143``) as an index array:
    for each character of the rendered string, the position in ``text`` it
    is read from, -1 for a padding space and -2 for a line break. None for
    ttb/ltr, which renders ``text`` as it is. Lines are reversed for
    btt/rtl line rendering and characters within a line for rtl; for
    ltr/rtl lines the lines, padded to one width (on the left for btt
    characters), are read as columns."""
    validate_directions(line_dir_render, char_dir_render, "_render")
    if char_dir_render == "ltr" and line_dir_render == "ttb":
        return None
    breaks = [i for i, c in enumerate(text) if c == "\n"]
    lines = [np.arange(a, b, dtype=np.int64)
             for a, b in zip([0] + [i + 1 for i in breaks], breaks + [len(text)])]
    if line_dir_render in ("btt", "rtl"):
        lines = lines[::-1]
    if char_dir_render == "rtl":
        lines = [ln[::-1] for ln in lines]
    if line_dir_render in ("rtl", "ltr"):
        width = max(map(len, lines))
        grid = np.full((len(lines), width), -1, dtype=np.int64)
        for row, ln in zip(grid, lines):
            if char_dir_render == "btt":
                row[width - len(ln):] = ln
            else:
                row[:len(ln)] = ln
        lines = list(grid.T)
    if not lines:  # no columns
        return np.zeros(0, dtype=np.int64)
    out = [np.full(1, -2, dtype=np.int64)] * (2 * len(lines) - 1)
    out[::2] = lines
    return np.concatenate(out)


def render_take(text: str, order: Optional[np.ndarray]) -> str:
    """``text`` read through :func:`render_order`'s ``order``."""
    if order is None:
        return text
    codes = np.frombuffer((text + "\n ").encode("utf-32-le", "surrogatepass"),
                          dtype=np.uint32)
    return codes[order].tobytes().decode("utf-32-le", "surrogatepass")


def render_directions(text: str, line_dir_render: str, char_dir_render: str) -> str:
    """``text`` rendered in the given directions (:func:`render_order`)."""
    return render_take(text, render_order(text, line_dir_render, char_dir_render))


def _line_order(words, line_dir: str, tolerance: float, preserve_order: bool):
    """``(order, line_start)``: the words in output order and, per output
    word, whether it starts a line (``text.py:743-758``).

    Lines are the chained clusters of the words' line key, in cluster
    order with extractor emission order kept inside a cluster (one stable
    argsort). ``preserve_order`` (use_text_flow, issue #982; the presorted
    layout textmap) makes each adjacent run of one cluster a line instead,
    keeping stream order."""
    cids = assign_clusters(line_cluster_values(words, line_dir), tolerance)
    order = (np.arange(len(cids)) if preserve_order
             else np.argsort(cids, kind="stable"))
    c = cids[order]
    line_start = np.ones(len(c), dtype=bool)
    line_start[1:] = c[1:] != c[:-1]
    return order, line_start


def _word_rows(words, cwid: np.ndarray, cwpos: np.ndarray, text: np.ndarray,
               expansions: dict):
    """``(rows, offsets)``: every kept char's position in word order, then
    ``char_word_pos`` order, repeated once per character of its
    ligature-expanded text; word i owns ``rows[offsets[i]:offsets[i + 1]]``,
    one row per character of ``words["text"][i]``."""
    kept = np.flatnonzero(cwid >= 0)
    wid = cwid[kept]
    counts = np.bincount(wid, minlength=len(words))
    chars = np.empty(len(kept), dtype=np.int64)
    chars[(np.cumsum(counts) - counts)[wid] + cwpos[kept]] = kept
    t = text[chars].tolist()
    reps = np.fromiter(map(len, map(expansions.get, t, t)), np.int64, len(t))
    offsets = np.zeros(len(words) + 1, dtype=np.int64)
    np.cumsum(np.fromiter(map(len, words["text"]), np.int64, len(words)),
              out=offsets[1:])
    return np.repeat(chars, reps), offsets


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """The concatenated ``arange(s, s + n)`` of each start s, length n."""
    return np.repeat(starts - (np.cumsum(lens) - lens), lens) + np.arange(lens.sum())


def _provenance(total: int, at: np.ndarray, wids: np.ndarray, rows: np.ndarray,
                offsets: np.ndarray) -> np.ndarray:
    """Provenance of a ``total``-char string holding the text of word
    ``wids[k]`` at offset ``at[k]`` and imputed whitespace (-1) elsewhere."""
    lens = offsets[wids + 1] - offsets[wids]
    prov = np.full(total, -1, dtype=np.int64)
    prov[_ranges(at, lens)] = rows[_ranges(offsets[wids], lens)]
    return prov


def _join_lines(texts, order: np.ndarray, line_start: np.ndarray) -> str:
    """The words ``texts[order]`` joined by " " within a line and "\\n"
    between lines."""
    parts = [""] * (2 * len(order) - 1)
    parts[::2] = [texts[i] for i in order.tolist()]
    parts[1::2] = np.where(line_start[1:], "\n", " ").tolist()
    return "".join(parts)


def assemble_text_layout(
    words,
    rows: np.ndarray,
    offsets: np.ndarray,
    layout_bbox: Tuple[float, float, float, float],
    layout_width: float = 0,
    layout_height: float = 0,
    layout_width_chars: int = 0,
    layout_height_chars: int = 0,
    x_density: float = DEFAULT_X_DENSITY,
    y_density: float = DEFAULT_Y_DENSITY,
    x_shift: float = 0,
    y_shift: float = 0,
    y_tolerance: float = DEFAULT_Y_TOLERANCE,
    line_dir: str = "ttb",
    char_dir: str = "ltr",
    line_dir_render: Optional[str] = None,
    char_dir_render: Optional[str] = None,
) -> Tuple[str, np.ndarray]:
    """Layout-mode textmap (``text.py:241-420``), returning
    ``(rendered_string, provenance)``.

    Words arrive presorted in extractor emission order (the reference's
    ``presorted=True`` call); ``rows``/``offsets`` are their source chars
    from :func:`_word_rows`, and provenance holds those rows, -1 for
    imputed whitespace/newlines.

    The string is rendered in ``line_dir_render``/``char_dir_render``
    (default: ``line_dir``/``char_dir``), and the provenance with it: both
    are read through one :func:`render_order`, each character keeping its
    source row, a padding space or line break -1.
    """
    ldr = line_dir_render or line_dir
    cdr = char_dir_render or char_dir
    if len(words) == 0:
        return "", np.zeros(0, dtype=np.int64)

    if layout_width_chars and layout_width:
        raise ValueError("`layout_width` and `layout_width_chars` cannot both be set.")
    if layout_height_chars and layout_height:
        raise ValueError("`layout_height` and `layout_height_chars` cannot both be set.")
    if not layout_width_chars:
        layout_width_chars = int(round(layout_width / x_density))
    if not layout_height_chars:
        layout_height_chars = int(round(layout_height / y_density))

    # presorted: the output order is the emission order
    _, line_start = _line_order(words, line_dir, y_tolerance, True)
    y_origin = layout_bbox[_BBOX_ORIGIN_IDX[line_dir]]
    x_origin = layout_bbox[_BBOX_ORIGIN_IDX[char_dir]]
    y_adj = -1 if line_dir in ("btt", "rtl") else 1
    x_adj = -1 if char_dir in ("btt", "rtl") else 1
    y_dist = ((np.asarray(words[_POSITION_COL[line_dir]], dtype=np.float64)
               - (y_origin + y_shift)) * y_adj / y_density).tolist()
    x_dist = ((np.asarray(words[_POSITION_COL[char_dir]], dtype=np.float64)
               - (x_origin + x_shift)) * x_adj / x_density).tolist()
    texts = words["text"]

    pieces: List[str] = []
    src: List[int] = []  # the word each piece is the text of; -1: imputed
    blank = " " * layout_width_chars
    num_newlines = 0
    last_char = ""
    bounds = np.append(np.flatnonzero(line_start), len(texts)).tolist()
    for i, (a, b) in enumerate(zip(bounds, bounds[1:])):
        prepend = max(int(i > 0), round(y_dist[a]) - num_newlines)
        for _ in range(prepend):
            if (not pieces or last_char == "\n") and blank:
                pieces.append(blank)
                src.append(-1)
            pieces.append("\n")
            src.append(-1)
            last_char = "\n"
        num_newlines += prepend

        line_len = 0
        for wi in range(a, b):
            n_spaces = max(min(1, line_len), round(x_dist[wi]) - line_len)
            if n_spaces:
                pieces.append(" " * n_spaces)
                src.append(-1)
                last_char = " "
            line_len += n_spaces
            txt = texts[wi]
            if txt:
                pieces.append(txt)
                src.append(wi)
                last_char = txt[-1]
            line_len += len(txt)

        if layout_width_chars - line_len > 0:
            pieces.append(" " * (layout_width_chars - line_len))
            src.append(-1)
            last_char = " "

    # trailing blank lines + terminal-newline strip (text.py:404-414);
    # this function is layout-only, so the block is unconditional
    for j in range(layout_height_chars - (num_newlines + 1)):
        if j > 0 and blank:
            pieces.append(blank)
            src.append(-1)
        pieces.append("\n")
        src.append(-1)
    if pieces and pieces[-1] == "\n":
        pieces.pop()
        src.pop()

    lens = np.fromiter(map(len, pieces), np.int64, len(pieces))
    wids = np.asarray(src, dtype=np.int64)
    is_word = wids >= 0
    provenance = _provenance(int(lens.sum()), (np.cumsum(lens) - lens)[is_word],
                             wids[is_word], rows, offsets)
    # the string and its provenance read through one render order
    text = "".join(pieces)
    order = render_order(text, ldr, cdr)
    if order is None:
        return text, provenance
    return (render_take(text, order),
            np.append(provenance, (-1, -1))[order])


def collate_line(ca: CharArrays, tolerance: float = DEFAULT_X_TOLERANCE) -> str:
    """Sort by x0; insert a space on gaps > tolerance (``text.py:761-772``)."""
    order = np.argsort(ca.x0, kind="stable")
    x0 = ca.x0[order]
    x1 = ca.x1[order]
    txt = ca.text[order]
    gaps = np.zeros(len(txt), dtype=bool)
    if len(txt) > 1:
        gaps[1:] = x0[1:] > (x1[:-1] + tolerance)
    return "".join((" " + t) if g else t for t, g in zip(txt, gaps))


def simple_text(
    ca: CharArrays,
    x_tolerance: float = DEFAULT_X_TOLERANCE,
    y_tolerance: float = DEFAULT_Y_TOLERANCE,
) -> str:
    """extract_text_simple (``text.py:775-781``)."""
    if ca.n == 0:
        return ""
    cids = assign_clusters(ca.doctop, y_tolerance)
    groups = group_rows_by_cluster(cids, preserve_order=False)
    return "\n".join(collate_line(ca.take(g), x_tolerance) for g in groups)


_LAYOUT_KEYS = (
    "x_density", "y_density", "x_shift", "y_shift",
    "layout_width", "layout_height", "layout_width_chars", "layout_height_chars",
)


def text_args(kwargs: dict, bbox) -> Tuple[WordSettings, dict]:
    """``extract_text`` keyword arguments -> ``(WordSettings, keyword
    arguments for page_text_ca / page_textmap)``: the one place text
    settings are resolved.

    ``bbox`` supplies the layout defaults: ``layout_bbox`` itself and the
    ``layout_width``/``layout_height`` extent. Only a default-derived
    width/height yields to ``*_chars``; an explicit one conflicts
    (reference WordMap.to_textmap raises — test_utils.py:386-394). Render
    directions apply to both layout and plain assembly; other keys are
    ignored."""
    settings, rest = split_word_settings(kwargs)
    out = {"layout": bool(rest.get("layout", False))}
    for k in ("line_dir_render", "char_dir_render"):
        if k in rest:
            out[k] = rest[k]
    if out["layout"]:
        out["layout_bbox"] = rest.get("layout_bbox", bbox)
        for k in _LAYOUT_KEYS:
            if k in rest:
                out[k] = rest[k]
        if "layout_width" not in out and "layout_width_chars" not in out:
            out["layout_width"] = bbox[2] - bbox[0]
        if "layout_height" not in out and "layout_height_chars" not in out:
            out["layout_height"] = bbox[3] - bbox[1]
    return settings, out


def page_text_ca(
    ca: CharArrays,
    settings: Optional[WordSettings] = None,
    layout: bool = False,
    layout_bbox: Optional[Tuple[float, float, float, float]] = None,
    line_dir_render: Optional[str] = None,
    char_dir_render: Optional[str] = None,
    **layout_kwargs,
) -> str:
    """extract_text (``text.py:713-758``) straight from CharArrays — the
    one char -> text implementation, no pandas for the char table.

    Plain mode joins the words in :func:`_line_order` order; its line
    tolerance is chosen by the *render* line direction, y for ttb/btt and
    x otherwise (a reference quirk at ``text.py:743-747``). Layout mode
    spans ``layout_bbox``, by default the chars' extent; ``layout_kwargs``
    are the rest of :func:`assemble_text_layout`'s geometry
    (``layout_width``/``_height`` [``_chars``], ``x``/``y_density``,
    ``x``/``y_shift``)."""
    s = settings or WordSettings()
    if ca.n == 0:
        return ""
    words, cwid, cwpos = extract_words_ca(ca, s)
    if layout:
        text, _ = assemble_text_layout(
            words, *_word_rows(words, cwid, cwpos, ca.text, s._expansions),
            layout_bbox=ca.bbox() if layout_bbox is None else layout_bbox,
            y_tolerance=s.y_tolerance, line_dir=s.line_dir, char_dir=s.char_dir,
            line_dir_render=line_dir_render, char_dir_render=char_dir_render,
            **layout_kwargs,
        )
        return text
    if len(words) == 0:
        return ""
    ldr = line_dir_render or s.line_dir
    tol = s.y_tolerance if ldr in ("ttb", "btt") else s.x_tolerance
    order, line_start = _line_order(words, s.line_dir, tol, s.use_text_flow)
    return render_directions(_join_lines(words["text"], order, line_start),
                             ldr, char_dir_render or s.char_dir)


def page_textmap(
    ca: CharArrays,
    settings: Optional[WordSettings] = None,
    layout: bool = False,
    layout_bbox: Optional[Tuple[float, float, float, float]] = None,
    **layout_kwargs,
) -> Tuple[str, np.ndarray]:
    """``(text, provenance)`` textmap of a page's chars — the reference
    get_textmap read by search and extract_text_lines (layout=False is its
    default). Provenance indexes ``ca``'s chars by position, -1 for
    imputed whitespace.

    Plain mode is ``page_text_ca``'s string (lines clustered on
    ``y_tolerance``, no render directions): each word's rows in line
    order, one -1 per separator. Layout mode spans ``layout_bbox``, by
    default the chars' extent, as in :func:`page_text_ca`;
    ``layout_kwargs`` are the rest of :func:`assemble_text_layout`'s
    geometry (:func:`text_args` gives them)."""
    s = settings or WordSettings()
    words, cwid, cwpos = extract_words_ca(ca, s)
    if len(words) == 0:
        return "", np.zeros(0, dtype=np.int64)
    rows, offsets = _word_rows(words, cwid, cwpos, ca.text, s._expansions)
    if layout:
        return assemble_text_layout(
            words, rows, offsets,
            layout_bbox=ca.bbox() if layout_bbox is None else layout_bbox,
            y_tolerance=s.y_tolerance,
            line_dir=s.line_dir, char_dir=s.char_dir, **layout_kwargs,
        )
    order, line_start = _line_order(words, s.line_dir, s.y_tolerance,
                                    s.use_text_flow)
    lens = np.diff(offsets)[order]
    at = np.cumsum(lens + 1) - (lens + 1)  # each word after one separator
    return (_join_lines(words["text"], order, line_start),
            _provenance(int(lens.sum()) + len(order) - 1, at, order, rows, offsets))


# extract_text_lines(strip=True): each line, its edge spaces trimmed
STRIP_LINES = r" *([^\n]+?) *(\n|$)"

_MATCH_COLS = ["text", "x0", "top", "x1", "bottom", "start", "end", "groups",
              "char_pos"]


def search_text(
    text: str,
    provenance: np.ndarray,
    ca: CharArrays,
    pattern,
    regex: bool = True,
    case: bool = True,
    main_group: int = 0,
) -> pd.DataFrame:
    """Regex search over assembled text, spans mapped back to chars
    (``text.py:172-210``). Returns one row per match: its text, its bbox
    over the source chars, start/end offsets, the groups and ``char_pos``,
    the sorted positions of its chars in ``ca``; zero-length and
    whitespace-only matches are dropped.
    """
    if isinstance(pattern, re.Pattern):
        # reference parity (text.py search): compiled patterns conflict
        # with regex=False / case=False
        if regex is False:
            raise ValueError(
                "Cannot pass a compiled pattern *and* regex=False together."
            )
        if case is False:
            raise ValueError(
                "Cannot pass a compiled pattern *and* case=False together."
            )
        compiled = pattern
    else:
        if not regex:
            pattern = re.escape(pattern)
        flags = 0 if case else re.I
        compiled = re.compile(pattern, flags)
    rows = []
    for m in compiled.finditer(text):
        frag = m.group(main_group)
        if not frag or not frag.strip():
            continue
        span_rows = provenance[m.start(main_group): m.end(main_group)]
        src = span_rows[span_rows >= 0]
        if len(src) == 0:
            continue
        pos = np.unique(src)
        rows.append((
            frag,
            float(ca.x0[pos].min()),
            float(ca.top[pos].min()),
            float(ca.x1[pos].max()),
            float(ca.bottom[pos].max()),
            m.start(main_group),
            m.end(main_group),
            list(m.groups()),
            pos,
        ))
    return pd.DataFrame(rows, columns=_MATCH_COLS)


def page_search(
    ca: CharArrays,
    pattern,
    settings: Optional[WordSettings] = None,
    regex: bool = True,
    case: bool = True,
    main_group: int = 0,
    **textmap_kwargs,
) -> pd.DataFrame:
    """Textmap + :func:`search_text` for one page — the one search path
    behind ``Page.search``, ``Page.extract_text_lines`` and the Spark
    search and text-line plans. ``textmap_kwargs`` are
    :func:`page_textmap`'s ``layout``, ``layout_bbox`` and layout
    geometry."""
    return search_text(*page_textmap(ca, settings, **textmap_kwargs), ca,
                       pattern, regex=regex, case=case, main_group=main_group)
