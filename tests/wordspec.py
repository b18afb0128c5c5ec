"""Scalar word extractor: the reference's ``WordExtractor`` semantics
(pdfplumber ``utils/text.py:423-688``, summarised in SURVEY.md) as a plain
per-char loop over char dicts.

It is the executable spec the word kernel (``kernel/words.py``) is tested
against when no reference checkout is present, so it shares no code with
the kernel: chars are dicts, lines come from the chained clustering of
``utils/clustering.py`` over a sorted set, the in-line order from
``sorted`` and the word splitter is the reference's stateful loop.

``extract(chars)`` returns ``(words, char_word_id, char_word_pos)`` like
``extract_words_ca``: word dicts in emission order, then per input char its
word's index (-1 for a dropped blank) and its place in that word.
"""

from __future__ import annotations

import itertools
import string

LIGATURES = {"ﬀ": "ff", "ﬃ": "ffi", "ﬄ": "ffl", "ﬁ": "fi", "ﬂ": "fl",
             "ﬆ": "st", "ﬅ": "st"}

LINE_KEY = {
    "ttb": lambda c: c["top"],
    "btt": lambda c: -c["bottom"],
    "ltr": lambda c: c["x0"],
    "rtl": lambda c: -c["x1"],
}
CHAR_KEY = {
    "ttb": lambda c: (c["top"], c["bottom"]),
    "btt": lambda c: (-(c["top"] + c["height"]), -c["top"]),
    "ltr": lambda c: (c["x0"], c["x0"]),
    "rtl": lambda c: (-c["x1"], -c["x0"]),
}


def cluster_list(xs, tolerance):
    """Sorted ``xs`` in chained clusters: a value joins the cluster of the
    value before it when within ``tolerance`` of it."""
    xs = sorted(xs)
    if tolerance == 0 or len(xs) < 2:
        return [[x] for x in xs]
    groups, current = [], [xs[0]]
    for last, x in zip(xs, xs[1:]):
        if x <= last + tolerance:
            current.append(x)
        else:
            groups.append(current)
            current = [x]
    groups.append(current)
    return groups


def cluster_objects(objs, key, tolerance):
    """``objs`` grouped by the cluster of ``key(obj)``, clusters in value
    order, input order kept inside a cluster."""
    cluster_of = {}
    for i, values in enumerate(cluster_list(set(map(key, objs)), tolerance)):
        for v in values:
            cluster_of[v] = i
    tagged = sorted(((o, cluster_of[key(o)]) for o in objs), key=lambda t: t[1])
    return [[o for o, _ in g] for _, g in itertools.groupby(tagged, lambda t: t[1])]


class WordSpec:
    def __init__(self, x_tolerance=3, y_tolerance=3, x_tolerance_ratio=None,
                 y_tolerance_ratio=None, keep_blank_chars=False,
                 use_text_flow=False, vertical_ttb=True, horizontal_ltr=True,
                 line_dir="ttb", char_dir="ltr", line_dir_rotated=None,
                 char_dir_rotated=None, extra_attrs=(),
                 split_at_punctuation=False, expand_ligatures=True):
        self.x_tolerance = x_tolerance
        self.y_tolerance = y_tolerance
        self.x_tolerance_ratio = x_tolerance_ratio
        self.y_tolerance_ratio = y_tolerance_ratio
        self.keep_blank_chars = keep_blank_chars
        self.use_text_flow = use_text_flow
        self.vertical_ttb = vertical_ttb
        self.horizontal_ltr = horizontal_ltr
        self.line_dir = line_dir
        self.char_dir = char_dir
        self.line_dir_rotated = line_dir_rotated or char_dir
        self.char_dir_rotated = char_dir_rotated or line_dir
        self.extra_attrs = list(extra_attrs)
        self.punct = (string.punctuation if split_at_punctuation is True
                      else split_at_punctuation or "")
        self.expansions = LIGATURES if expand_ligatures else {}

    def get_char_dir(self, upright):
        if not upright and not self.vertical_ttb:
            return "btt"
        if upright and not self.horizontal_ltr:
            return "rtl"
        return self.char_dir if upright else self.char_dir_rotated

    def begins_new_word(self, prev, curr, direction, x_tol, y_tol):
        """Whether ``curr`` cannot continue the word ending in ``prev``:
        it starts before ``prev`` along the line, past ``prev``'s end by
        more than the along-line tolerance, or past its start across the
        line by more than the across-line one."""
        if direction in ("ltr", "rtl"):
            along, across = x_tol, y_tol
            ay, cy = prev["top"], curr["top"]
            if direction == "ltr":
                ax, bx, cx = prev["x0"], prev["x1"], curr["x0"]
            else:
                ax, bx, cx = -prev["x1"], -prev["x0"], -curr["x1"]
        else:
            along, across = y_tol, x_tol
            ay, cy = prev["x0"], curr["x0"]
            if direction == "ttb":
                ax, bx, cx = prev["top"], prev["bottom"], curr["top"]
            else:
                ax, bx, cx = -prev["bottom"], -prev["top"], -curr["bottom"]
        return cx < ax or cx > bx + along or cy > ay + across

    def line_words(self, line, direction):
        """The words of one ordered line, each a list of its chars."""
        words, current = [], []
        for c in line:
            text = c["text"]
            if not self.keep_blank_chars and text.isspace():
                words.append(current)
                current = []
            elif text in self.punct:
                words += [current, [c]]
                current = []
            elif current:
                prev = current[-1]
                xt = (self.x_tolerance if self.x_tolerance_ratio is None
                      else self.x_tolerance_ratio * prev["size"])
                yt = (self.y_tolerance if self.y_tolerance_ratio is None
                      else self.y_tolerance_ratio * prev["size"])
                if self.begins_new_word(prev, c, direction, xt, yt):
                    words.append(current)
                    current = [c]
                else:
                    current.append(c)
            else:
                current = [c]
        words.append(current)
        return [w for w in words if w]

    def lines(self, group):
        """(ordered chars, direction) per line of one adjacent group."""
        if self.use_text_flow:
            return [(group, self.char_dir)]
        upright = group[0]["upright"]
        line_dir = self.line_dir if upright else self.line_dir_rotated
        char_dir = self.get_char_dir(upright)
        tol = self.y_tolerance if line_dir in ("ttb", "btt") else self.x_tolerance
        return [(sorted(line, key=CHAR_KEY[char_dir]), char_dir)
                for line in cluster_objects(group, LINE_KEY[line_dir], tol)]

    def merge(self, chars, direction):
        first = chars[0]
        x0 = min(c["x0"] for c in chars)
        x1 = max(c["x1"] for c in chars)
        top = min(c["top"] for c in chars)
        bottom = max(c["bottom"] for c in chars)
        word = {
            "text": "".join(self.expansions.get(c["text"], c["text"]) for c in chars),
            "x0": x0, "x1": x1, "top": top,
            "doctop": top + (first["doctop"] - first["top"]),
            "bottom": bottom, "upright": first["upright"],
            "height": bottom - top, "width": x1 - x0,
            # the direction the word was split in: the group's char
            # direction, or char_dir for every group under use_text_flow
            "direction": direction,
        }
        for k in self.extra_attrs:
            word[k] = first[k]
        return word

    def extract(self, chars):
        chars = [dict(c, _i=i) for i, c in enumerate(chars)]
        key = lambda c: tuple(c[k] for k in ["upright", *self.extra_attrs])  # noqa: E731
        words = []
        char_word_id = [-1] * len(chars)
        char_word_pos = [-1] * len(chars)
        for _, group in itertools.groupby(chars, key):
            for line, direction in self.lines(list(group)):
                for w in self.line_words(line, direction):
                    for pos, c in enumerate(w):
                        char_word_id[c["_i"]] = len(words)
                        char_word_pos[c["_i"]] = pos
                    words.append(self.merge(w, direction))
        return words, char_word_id, char_word_pos
