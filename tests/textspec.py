"""Scalar text assembly: the reference's plain ``extract_text`` join
(pdfplumber ``utils/text.py:730-758``) and ``WordMap.to_textmap``
(``text.py:241-420``) as plain loops over the words of
``wordspec.WordSpec``, with the render transform of ``TextMap``
(``text.py:113-143``).

It is the executable spec the text kernel (``kernel/layout.py``) is
tested against when no reference checkout is present, so it shares no
code with the kernel: words are dicts, lines are ``wordspec`` clusters and
each output character is built one at a time, tagged with the position of
its source char (-1 for imputed whitespace), like ``TextMap.tuples``.

- ``extract_text``: plain mode joins each line's word texts with " " and
  the lines with "\\n"; the line tolerance is y for a ttb/btt *render*
  line direction and x otherwise. Layout mode is the layout textmap's
  string. Both are then rendered.
- ``textmap``: plain mode is the same join, clustered on ``y_tolerance``
  and not rendered, so search offsets index ``extract_text``'s string;
  layout mode is ``to_textmap(layout=True)`` over presorted words (the
  reference's ``chars_to_textmap`` call): lines are adjacent runs of one
  cluster, and the string is rendered in the settings' directions, each
  character's source carried through the render.
"""

from __future__ import annotations

from wordspec import LINE_KEY, WordSpec, cluster_list

# where a direction's lines or chars start, as a layout bbox index
ORIGIN = {"ttb": 1, "btt": 3, "ltr": 0, "rtl": 2}
POSITION = {"ttb": "top", "btt": "bottom", "ltr": "x0", "rtl": "x1"}


def cluster_objects(objs, key, tolerance, preserve_order):
    """The reference's ``cluster_objects``: ``objs`` grouped by the
    chained cluster of ``key(obj)``; clusters in value order with input
    order kept inside each, or under ``preserve_order`` each adjacent run
    of one cluster in input order."""
    cluster_of = {}
    for i, values in enumerate(cluster_list(set(map(key, objs)), tolerance)):
        for v in values:
            cluster_of[v] = i
    tagged = [(o, cluster_of[key(o)]) for o in objs]
    if not preserve_order:
        tagged.sort(key=lambda t: t[1])
    lines = []
    for o, c in tagged:
        if lines and lines[-1][0] == c:
            lines[-1][1].append(o)
        else:
            lines.append((c, [o]))
    return [line for _, line in lines]


def render_tagged(tagged, line_dir_render, char_dir_render):
    """``TextMap.to_string`` over ``(char, source)`` pairs: lines reversed
    for btt/rtl line rendering, chars reversed for rtl, and for ltr/rtl
    lines the padded lines read as columns. Each char keeps its source; a
    padding space and each line break the render joins with are
    ``(" ", -1)`` and ``("\\n", -1)``."""
    if (line_dir_render, char_dir_render) == ("ttb", "ltr"):
        return list(tagged)
    lines = [[]]
    for c, i in tagged:
        if c == "\n":
            lines.append([])
        else:
            lines[-1].append((c, i))
    if line_dir_render in ("btt", "rtl"):
        lines.reverse()
    if char_dir_render == "rtl":
        lines = [list(reversed(ln)) for ln in lines]
    if line_dir_render in ("rtl", "ltr"):
        width = max(len(ln) for ln in lines)
        for ln in lines:
            pad = [(" ", -1)] * (width - len(ln))
            if char_dir_render == "btt":
                ln[:0] = pad
            else:
                ln.extend(pad)
        lines = [[ln[i] for ln in lines] for i in range(width)]
    out = []
    for k, ln in enumerate(lines):
        if k:
            out.append(("\n", -1))
        out.extend(ln)
    return out


def render(text, line_dir_render, char_dir_render):
    """``text`` rendered (:func:`render_tagged`)."""
    return "".join(c for c, _ in render_tagged(
        [(c, -1) for c in text], line_dir_render, char_dir_render))


class TextSpec:
    def __init__(self, **word_kwargs):
        self.words = WordSpec(**word_kwargs)

    def wordmap(self, chars):
        """``(word, [char positions])`` per word, in emission order, each
        word's chars in the order it was built from."""
        words, char_word_id, char_word_pos = self.words.extract(chars)
        members = [[] for _ in words]
        for i, (w, pos) in enumerate(zip(char_word_id, char_word_pos)):
            if w >= 0:
                members[w].append((pos, i))
        return [(word, [i for _, i in sorted(m)]) for word, m in zip(words, members)]

    def letters(self, chars, positions):
        """The expanded characters of the chars at ``positions``, each
        tagged with its char's position."""
        out = []
        for i in positions:
            text = chars[i]["text"]
            for letter in self.words.expansions.get(text, text):
                out.append((letter, i))
        return out

    def plain(self, chars, wordmap, tolerance):
        """Plain-mode tagged characters: a line's words joined by one
        space, lines by one newline."""
        key = LINE_KEY[self.words.line_dir]
        out = []
        lines = cluster_objects(wordmap, lambda t: key(t[0]), tolerance,
                                self.words.use_text_flow)
        for n, line in enumerate(lines):
            if n:
                out.append(("\n", -1))
            for k, (_, positions) in enumerate(line):
                if k:
                    out.append((" ", -1))
                out += self.letters(chars, positions)
        return out

    def layout(self, chars, wordmap, layout_bbox=None, layout_width=0,
               layout_height=0, layout_width_chars=0, layout_height_chars=0,
               x_density=7.25, y_density=13, x_shift=0, y_shift=0):
        """``to_textmap(layout=True, presorted=True)`` tagged characters."""
        if not wordmap:
            return []
        if layout_bbox is None:
            layout_bbox = (min(c["x0"] for c in chars), min(c["top"] for c in chars),
                           max(c["x1"] for c in chars), max(c["bottom"] for c in chars))
        if layout_width_chars:
            if layout_width:
                raise ValueError("`layout_width` and `layout_width_chars` cannot both be set.")
        else:
            layout_width_chars = int(round(layout_width / x_density))
        if layout_height_chars:
            if layout_height:
                raise ValueError("`layout_height` and `layout_height_chars` cannot both be set.")
        else:
            layout_height_chars = int(round(layout_height / y_density))
        blank_line = [(" ", -1)] * layout_width_chars
        line_dir, char_dir = self.words.line_dir, self.words.char_dir
        y_origin = layout_bbox[ORIGIN[line_dir]]
        x_origin = layout_bbox[ORIGIN[char_dir]]
        y_adj = -1 if line_dir in ("btt", "rtl") else 1
        x_adj = -1 if char_dir in ("btt", "rtl") else 1
        key = LINE_KEY[line_dir]

        out = []
        num_newlines = 0
        lines = cluster_objects(wordmap, lambda t: key(t[0]), self.words.y_tolerance, True)
        for n, line in enumerate(lines):
            y_dist = (line[0][0][POSITION[line_dir]] - (y_origin + y_shift)) * y_adj / y_density
            prepend = max(int(n > 0), round(y_dist) - num_newlines)
            for _ in range(prepend):
                if not out or out[-1][0] == "\n":
                    out += blank_line
                out.append(("\n", -1))
            num_newlines += prepend
            line_len = 0
            for word, positions in line:
                x_dist = (word[POSITION[char_dir]] - (x_origin + x_shift)) * x_adj / x_density
                spaces = max(min(1, line_len), round(x_dist) - line_len)
                out += [(" ", -1)] * spaces
                line_len += spaces
                for tagged in self.letters(chars, positions):
                    out.append(tagged)
                    line_len += 1
            out += [(" ", -1)] * (layout_width_chars - line_len)
        for j in range(layout_height_chars - (num_newlines + 1)):
            if j > 0:
                out += blank_line
            out.append(("\n", -1))
        # words whose texts are all empty, in a zero-size layout, tag
        # nothing: the reference would index the empty list and raise
        # IndexError; the kernel's layout text is then empty
        if out and out[-1] == ("\n", -1):
            out.pop()
        return out

    def extract_text(self, chars, wordmap=None, layout=False, line_dir_render=None,
                     char_dir_render=None, **layout_kwargs):
        if not chars:
            return ""
        if wordmap is None:
            wordmap = self.wordmap(chars)
        ldr = line_dir_render or self.words.line_dir
        cdr = char_dir_render or self.words.char_dir
        if layout:
            tagged = self.layout(chars, wordmap, **layout_kwargs)
        else:
            tol = (self.words.y_tolerance if ldr in ("ttb", "btt")
                   else self.words.x_tolerance)
            tagged = self.plain(chars, wordmap, tol)
        return render("".join(c for c, _ in tagged), ldr, cdr)

    def textmap(self, chars, wordmap=None, layout=False, **layout_kwargs):
        """``(text, provenance)``: the string and each of its characters'
        source char position, -1 for imputed whitespace. The layout textmap
        is rendered in the settings' own directions, like
        ``TextMap.as_string``, each character carrying its source through
        the render (a padding space or line break: -1), so the string and
        the provenance line up in every direction."""
        if wordmap is None:
            wordmap = self.wordmap(chars)
        if not layout:
            tagged = self.plain(chars, wordmap, self.words.y_tolerance)
        else:
            tagged = render_tagged(self.layout(chars, wordmap, **layout_kwargs),
                                   self.words.line_dir, self.words.char_dir)
        return "".join(c for c, _ in tagged), [i for _, i in tagged]
