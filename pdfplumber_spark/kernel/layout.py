"""Text assembly: words -> lines -> rendered page text (+ provenance map).

``page_text_ca`` is the one char -> text implementation: plain and layout
mode plus render directions, straight from :class:`CharArrays` (parser
buffers or a char frame). ``page_text`` adapts a char frame to it and
``page_textmap`` builds the provenance-carrying textmap that search and
text-line extraction read; ``resolve_layout_kwargs`` turns
``extract_text`` kwargs into their arguments.

Re-expresses the reference's WordMap/TextMap
(``pdfplumber/utils/text.py:95-420,713-781``):

- ``assemble_text`` — the simple (non-layout) path: words clustered into
  lines on the line-direction key, joined with single spaces / newlines
  (``text.py:743-758``).
- ``assemble_text_layout`` — density-based layout imputation: newlines
  imputed from line position / y_density, spaces from word position /
  x_density, with Python banker's ``round`` (``text.py:241-420``).
- ``assemble_text_plain_map`` — the non-layout textmap with provenance.
- ``render_directions`` — btt/rtl render post-transforms: reverse lines /
  reverse chars / pad + transpose columns (``text.py:113-143``).
- ``simple_text`` — extract_text_simple: doctop clusters + collate_line
  (``text.py:761-781``).
- ``search_text`` — regex over the rendered string, spans mapped back to
  source chars through the provenance array (``text.py:145-210``).

The provenance array maps every output character to a source-char row index
(-1 for imputed whitespace) — the columnar equivalent of TextMap.tuples.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

import numpy as np
import pandas as pd

from .cluster import assign_clusters, group_rows_by_cluster
from .geom import frame_bbox
from .words import (
    DEFAULT_X_TOLERANCE,
    DEFAULT_Y_TOLERANCE,
    LIGATURES,
    CharArrays,
    WordSettings,
    extract_words_ca,
    line_cluster_values,
    validate_directions,
)

DEFAULT_X_DENSITY = 7.25
DEFAULT_Y_DENSITY = 13.0

_BBOX_ORIGIN_IDX = {"ttb": 1, "btt": 3, "ltr": 0, "rtl": 2}
_POSITION_COL = {"ttb": "top", "btt": "bottom", "ltr": "x0", "rtl": "x1"}


def render_directions(text: str, line_dir_render: str, char_dir_render: str) -> str:
    """Post-transform for non-(ttb,ltr) render directions (``text.py:113-143``)."""
    validate_directions(line_dir_render, char_dir_render, "_render")
    if char_dir_render == "ltr" and line_dir_render == "ttb":
        return text
    lines = text.split("\n")
    if line_dir_render in ("btt", "rtl"):
        lines = lines[::-1]
    if char_dir_render == "rtl":
        lines = [ln[::-1] for ln in lines]
    if line_dir_render in ("rtl", "ltr"):
        width = max(map(len, lines))
        if char_dir_render == "btt":
            lines = [(" " * (width - len(ln))) + ln for ln in lines]
        else:
            lines = [ln + (" " * (width - len(ln))) for ln in lines]
        return "\n".join("".join(ln[i] for ln in lines) for i in range(width))
    return "\n".join(lines)


def assemble_text(
    words,
    line_dir: str = "ttb",
    char_dir: str = "ltr",
    x_tolerance: float = DEFAULT_X_TOLERANCE,
    y_tolerance: float = DEFAULT_Y_TOLERANCE,
    line_dir_render: Optional[str] = None,
    char_dir_render: Optional[str] = None,
    preserve_order: bool = False,
) -> str:
    """Non-layout extract_text body (``text.py:730-758``).

    Words (``WordArrays`` columns) arrive in extractor emission order;
    they are clustered on the line key (tolerance chooses y vs x by the
    *render* line direction, a reference quirk at ``text.py:743-747``) and
    joined.
    ``preserve_order`` (use_text_flow, issue #982) groups adjacent runs
    instead of re-sorting clusters, keeping stream order.
    """
    if len(words) == 0:
        return ""
    ldr = line_dir_render or line_dir
    cdr = char_dir_render or char_dir
    vals = line_cluster_values(words, line_dir)
    tol = y_tolerance if ldr in ("ttb", "btt") else x_tolerance
    cids = assign_clusters(vals, tol)
    groups = group_rows_by_cluster(cids, preserve_order=preserve_order)
    texts = np.asarray(words["text"], dtype=object)
    base = "\n".join(" ".join(texts[i] for i in grp) for grp in groups)
    return render_directions(base, ldr, cdr)


def _word_text(word_chars: Tuple[np.ndarray, np.ndarray], expansions: dict):
    """(text, provenance rows) of one word: each char ligature-expanded,
    every output character tagged with its source row."""
    pieces: List[str] = []
    prow: List[int] = []
    for t, r in zip(*word_chars):
        expanded = expansions.get(t, t)
        pieces.append(expanded)
        prow.extend([r] * len(expanded))
    return "".join(pieces), np.asarray(prow, dtype=np.int64)


def assemble_text_layout(
    words,
    word_chars: List[Tuple[np.ndarray, np.ndarray]],
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
    expand_ligatures: bool = True,
) -> Tuple[str, np.ndarray]:
    """Layout-mode textmap (``text.py:241-420``), returning
    ``(rendered_string, provenance)``.

    Words arrive presorted in extractor emission order (the reference's
    ``presorted=True`` call); ``word_chars[i]`` is word i's
    ``(texts, rows)`` pair from :func:`build_word_char_arrays`. Provenance
    indexes refer to those rows; -1 marks imputed whitespace/newlines.

    Note: provenance is tracked for the pre-render string (identical to the
    rendered string for ttb/ltr, the only case search() needs here).
    """
    ldr = line_dir_render or line_dir
    cdr = char_dir_render or char_dir
    if len(words) == 0:
        return "", np.zeros(0, dtype=np.int64)

    expansions = LIGATURES if expand_ligatures else {}

    if layout_width_chars and layout_width:
        raise ValueError("`layout_width` and `layout_width_chars` cannot both be set.")
    if layout_height_chars and layout_height:
        raise ValueError("`layout_height` and `layout_height_chars` cannot both be set.")
    if not layout_width_chars:
        layout_width_chars = int(round(layout_width / x_density))
    if not layout_height_chars:
        layout_height_chars = int(round(layout_height / y_density))

    cids = assign_clusters(line_cluster_values(words, line_dir), y_tolerance)
    line_groups = group_rows_by_cluster(cids, preserve_order=True)

    y_origin = layout_bbox[_BBOX_ORIGIN_IDX[line_dir]]
    x_origin = layout_bbox[_BBOX_ORIGIN_IDX[char_dir]]
    line_pos_col = _POSITION_COL[line_dir]
    char_pos_col = _POSITION_COL[char_dir]
    y_adj = -1 if line_dir in ("btt", "rtl") else 1
    x_adj = -1 if char_dir in ("btt", "rtl") else 1

    out: List[str] = []
    prov: List[np.ndarray] = []
    blank = " " * layout_width_chars

    def emit(s: str, rows: Optional[np.ndarray] = None):
        out.append(s)
        if rows is None:
            prov.append(np.full(len(s), -1, dtype=np.int64))
        else:
            prov.append(rows)

    num_newlines = 0
    total_len = 0  # chars emitted so far (to test "last char is newline")
    last_char = ""

    line_pos_vals = np.asarray(words[line_pos_col], dtype=np.float64)
    char_pos_vals = np.asarray(words[char_pos_col], dtype=np.float64)

    for i, grp in enumerate(line_groups):
        y_dist = (
            (line_pos_vals[grp[0]] - (y_origin + y_shift)) * y_adj / y_density
        )
        prepend = max(int(i > 0), round(y_dist) - num_newlines)
        for _ in range(prepend):
            if total_len == 0 or last_char == "\n":
                if blank:
                    emit(blank)
                    total_len += len(blank)
                    last_char = " " if blank else last_char
            emit("\n")
            total_len += 1
            last_char = "\n"
        num_newlines += prepend

        line_len = 0
        for wi in grp:
            x_dist = (
                (char_pos_vals[wi] - (x_origin + x_shift)) * x_adj / x_density
            )
            n_spaces = max(min(1, line_len), round(x_dist) - line_len)
            if n_spaces:
                emit(" " * n_spaces)
                total_len += n_spaces
                last_char = " "
            line_len += n_spaces
            txt, rows = _word_text(word_chars[wi], expansions)
            if txt:
                emit(txt, rows)
                total_len += len(txt)
                last_char = txt[-1]
            line_len += len(txt)

        if layout_width_chars - line_len > 0:
            emit(" " * (layout_width_chars - line_len))
            total_len += layout_width_chars - line_len
            last_char = " "

    # trailing blank lines + terminal-newline strip (text.py:404-414);
    # this function is layout-only, so the block is unconditional
    append = layout_height_chars - (num_newlines + 1)
    for j in range(append):
        if j > 0 and blank:
            emit(blank)
            last_char = " "
        emit("\n")
        last_char = "\n"
    if out and out[-1] == "\n":
        out.pop()
        prov.pop()

    base = "".join(out)
    provenance = (
        np.concatenate(prov) if prov else np.zeros(0, dtype=np.int64)
    )
    return render_directions(base, ldr, cdr), provenance


def collate_line(line_chars: pd.DataFrame, tolerance: float = DEFAULT_X_TOLERANCE) -> str:
    """Sort by x0; insert a space on gaps > tolerance (``text.py:761-772``)."""
    order = np.argsort(line_chars["x0"].to_numpy(np.float64), kind="stable")
    x0 = line_chars["x0"].to_numpy(np.float64)[order]
    x1 = line_chars["x1"].to_numpy(np.float64)[order]
    txt = line_chars["text"].to_numpy(dtype=object)[order]
    gaps = np.zeros(len(txt), dtype=bool)
    if len(txt) > 1:
        gaps[1:] = x0[1:] > (x1[:-1] + tolerance)
    return "".join((" " + t) if g else t for t, g in zip(txt, gaps))


def simple_text(
    chars: pd.DataFrame,
    x_tolerance: float = DEFAULT_X_TOLERANCE,
    y_tolerance: float = DEFAULT_Y_TOLERANCE,
) -> str:
    """extract_text_simple (``text.py:775-781``)."""
    if len(chars) == 0:
        return ""
    cids = assign_clusters(chars["doctop"].to_numpy(np.float64), y_tolerance)
    groups = group_rows_by_cluster(cids, preserve_order=False)
    return "\n".join(collate_line(chars.iloc[g], x_tolerance) for g in groups)


_LAYOUT_KEYS = (
    "x_density", "y_density", "x_shift", "y_shift",
    "layout_width", "layout_height", "layout_width_chars", "layout_height_chars",
)


def resolve_layout_kwargs(rest: dict, bbox) -> dict:
    """Pop ``extract_text``'s layout and render kwargs out of ``rest`` ->
    keyword arguments for :func:`page_text`.

    ``bbox`` supplies the layout defaults: ``layout_bbox`` itself and the
    ``layout_width``/``layout_height`` extent. Only a default-derived
    width/height yields to ``*_chars``; an explicit one conflicts
    (reference WordMap.to_textmap raises — test_utils.py:386-394). Render
    directions apply to both layout and plain assembly."""
    out = {"layout": bool(rest.pop("layout", False))}
    for k in ("line_dir_render", "char_dir_render"):
        if k in rest:
            out[k] = rest.pop(k)
    if out["layout"]:
        out["layout_bbox"] = rest.pop("layout_bbox", bbox)
        for k in _LAYOUT_KEYS:
            if k in rest:
                out[k] = rest.pop(k)
        if "layout_width" not in out and "layout_width_chars" not in out:
            out["layout_width"] = bbox[2] - bbox[0]
        if "layout_height" not in out and "layout_height_chars" not in out:
            out["layout_height"] = bbox[3] - bbox[1]
    return out


def build_word_char_arrays(
    ca_text: np.ndarray,
    char_word_id: np.ndarray,
    char_word_pos: np.ndarray,
    n_words: int,
) -> list:
    """Per-word ``(texts, rows)`` pairs in word order, chars within each
    word in extractor assignment order (``char_word_pos``); ``rows`` are
    the chars' 0..n-1 positions, the provenance the textmaps carry."""
    kept = np.flatnonzero(char_word_id >= 0)
    order = kept[np.lexsort((char_word_pos[kept], char_word_id[kept]))]
    wids = char_word_id[order]
    empty = (np.empty(0, dtype=object), np.empty(0, dtype=np.int64))
    out = [empty] * n_words
    if len(order) == 0:
        return out
    bounds = np.flatnonzero(np.r_[True, wids[1:] != wids[:-1]])
    bounds = np.append(bounds, len(order))
    for bi in range(len(bounds) - 1):
        sl = order[bounds[bi]:bounds[bi + 1]]
        out[int(wids[bounds[bi]])] = (ca_text[sl], sl.astype(np.int64))
    return out


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

    Layout mode needs ``layout_bbox``; ``layout_kwargs`` are the rest of
    :func:`assemble_text_layout`'s geometry (``layout_width``/``_height``
    [``_chars``], ``x``/``y_density``, ``x``/``y_shift``)."""
    s = settings or WordSettings()
    if ca.n == 0:
        return ""
    words, cwid, cwpos = extract_words_ca(ca, s, as_frame=False)
    if not layout:
        return assemble_text(
            words,
            line_dir=s.line_dir,
            char_dir=s.char_dir,
            x_tolerance=s.x_tolerance,
            y_tolerance=s.y_tolerance,
            line_dir_render=line_dir_render,
            char_dir_render=char_dir_render,
            preserve_order=s.use_text_flow,
        )
    text, _ = assemble_text_layout(
        words,
        build_word_char_arrays(ca.text, cwid, cwpos, len(words)),
        layout_bbox=layout_bbox,
        y_tolerance=s.y_tolerance,
        line_dir=s.line_dir,
        char_dir=s.char_dir,
        line_dir_render=line_dir_render,
        char_dir_render=char_dir_render,
        expand_ligatures=s.expand_ligatures,
        **layout_kwargs,
    )
    return text


def page_text(
    chars: pd.DataFrame,
    settings: Optional[WordSettings] = None,
    layout: bool = False,
    layout_bbox: Optional[Tuple[float, float, float, float]] = None,
    **kwargs,
) -> str:
    """extract_text over a char frame: :func:`page_text_ca` on the frame's
    arrays; layout mode defaults ``layout_bbox`` to the chars' extent."""
    s = settings or WordSettings()
    if len(chars) == 0:
        return ""
    if layout and layout_bbox is None:
        layout_bbox = frame_bbox(chars)
    ca = CharArrays(chars.reset_index(drop=True), s.extra_attrs)
    return page_text_ca(ca, s, layout=layout, layout_bbox=layout_bbox, **kwargs)


def page_textmap(
    chars: pd.DataFrame,
    settings: Optional[WordSettings] = None,
    layout: bool = False,
    layout_bbox: Optional[Tuple[float, float, float, float]] = None,
) -> Optional[Tuple[str, np.ndarray]]:
    """``(rendered, provenance)`` textmap of a char frame — the reference
    get_textmap read by search and extract_text_lines (layout=False is its
    default). Provenance indexes the frame's rows by position. Layout mode
    spans ``layout_bbox`` (default: the chars' extent). None when the page
    has no words."""
    s = settings or WordSettings()
    if len(chars) == 0:
        return None
    ca = CharArrays(chars.reset_index(drop=True), s.extra_attrs)
    words, cwid, cwpos = extract_words_ca(ca, s, as_frame=False)
    if len(words) == 0:
        return None
    word_chars = build_word_char_arrays(ca.text, cwid, cwpos, len(words))
    if layout:
        bbox = frame_bbox(chars) if layout_bbox is None else layout_bbox
        return assemble_text_layout(
            words, word_chars, layout_bbox=bbox,
            layout_width=bbox[2] - bbox[0], layout_height=bbox[3] - bbox[1],
            y_tolerance=s.y_tolerance, line_dir=s.line_dir,
            char_dir=s.char_dir, expand_ligatures=s.expand_ligatures,
        )
    return assemble_text_plain_map(
        words, word_chars, line_dir=s.line_dir, y_tolerance=s.y_tolerance,
        use_text_flow=s.use_text_flow, expand_ligatures=s.expand_ligatures,
    )


def assemble_text_plain_map(
    words,
    word_chars: List[Tuple[np.ndarray, np.ndarray]],
    line_dir: str = "ttb",
    y_tolerance: float = DEFAULT_Y_TOLERANCE,
    use_text_flow: bool = False,
    expand_ligatures: bool = True,
) -> Tuple[str, np.ndarray]:
    """NON-layout textmap with provenance (``text.py`` TextMap with
    layout=False — the reference default for ``Page.search`` and
    ``extract_text_lines``): words joined by one space within a line,
    lines joined by newlines, no positional padding. Line grouping
    matches ``assemble_text``."""
    if len(words) == 0:
        return "", np.zeros(0, dtype=np.int64)
    expansions = LIGATURES if expand_ligatures else {}
    cids = assign_clusters(line_cluster_values(words, line_dir), y_tolerance)
    groups = group_rows_by_cluster(cids, preserve_order=use_text_flow)
    out: List[str] = []
    prov: List[np.ndarray] = []
    for gi, grp in enumerate(groups):
        if gi:
            out.append("\n")
            prov.append(np.full(1, -1, dtype=np.int64))
        for k, wi in enumerate(grp):
            if k:
                out.append(" ")
                prov.append(np.full(1, -1, dtype=np.int64))
            txt, rows = _word_text(word_chars[wi], expansions)
            if txt:
                out.append(txt)
                prov.append(rows)
    return "".join(out), (
        np.concatenate(prov) if prov else np.zeros(0, dtype=np.int64)
    )


def search_text(
    text: str,
    provenance: np.ndarray,
    chars: pd.DataFrame,
    pattern,
    regex: bool = True,
    case: bool = True,
    main_group: int = 0,
    return_chars: bool = False,
) -> pd.DataFrame:
    """Regex search over assembled text, spans mapped back to chars
    (``text.py:172-210``). Returns a frame with text/x0/top/x1/bottom/
    start/end/groups columns (+ ``chars`` records when requested);
    zero-length and whitespace-only matches are dropped.
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
        sub = chars.iloc[np.unique(src)]
        rec = {
            "text": frag,
            "x0": float(sub["x0"].min()),
            "top": float(sub["top"].min()),
            "x1": float(sub["x1"].max()),
            "bottom": float(sub["bottom"].max()),
            "start": m.start(main_group),
            "end": m.end(main_group),
            "groups": list(m.groups()),
        }
        if return_chars:
            rec["chars"] = sub.to_dict("records")
        rows.append(rec)
    cols = ["text", "x0", "top", "x1", "bottom", "start", "end", "groups"]
    if return_chars:
        cols.append("chars")
    return pd.DataFrame(rows, columns=cols)

