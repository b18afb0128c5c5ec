"""Glyph emission under the text-state operators: charspace (Tc), wordspace
(Tw), horizontal scaling (Tz), rise (Ts), TJ kerning and the ' and "
operators.

The parser builds every page's char block in one pass over its recorded
string runs. Each glyph's x must be pdfminer's render_string accumulation,
term by term, and a ``style=False`` parse must give the same block as a
``style=True`` one. Expected values come from the operands the test writes,
added up in pdfminer's order by a plain loop here.
"""

import tracemalloc

import numpy as np
import pytest

from pdfplumber_spark.kernel.pdfparse import Ref, parse_pdf
from pdfplumber_spark.kernel.pdfwrite import write_pdf

# /F1 widths (glyph space, 1/1000 em), FirstChar 32: the space is 250, the
# printable ASCII after it 400 + 10 * (code % 7); descent -200
WIDTHS = [250] + [400 + 10 * (c % 7) for c in range(33, 127)]


def width(code: int) -> int:
    return WIDTHS[code - 32]


FONT = (b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica/FirstChar 32"
        b"/Widths[" + b" ".join(b"%d" % w for w in WIDTHS) +
        b"]/FontDescriptor<</Descent -200/MissingWidth 500>>>>")


def one_page_pdf(content: bytes, font: bytes = FONT) -> bytes:
    """One 612x792 page showing ``content`` with ``font`` as /F1."""
    objs = []

    def obj(b):
        objs.append(b)
        return len(objs)

    cn = obj(b"<</Length %d>>\nstream\n%s\nendstream" % (len(content), content))
    font = obj(font)
    page = obj(b"<</Type/Page/Parent %d 0 R/MediaBox[0 0 612 792]"
               b"/Resources<</Font<</F1 %d 0 R>>>>/Contents %d 0 R>>"
               % (len(objs) + 2, font, cn))
    pages = obj(b"<</Type/Pages/Kids[%d 0 R]/Count 1>>" % page)
    cat = obj(b"<</Type/Catalog/Pages %d 0 R>>" % pages)
    return write_pdf(b"%PDF-1.4\n", dict(enumerate(objs, 1)),
                     {"Root": Ref(cat, 0)})


def pdf_string(s: str) -> str:
    return "(" + s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)") + ")"


def glyph_row(m, x, code, fontsize, scaling, rise, page_h=792):
    """One glyph's 12 block columns (NUM_FIELDS), evaluated one glyph at a
    time as pdfminer's LTChar does: the text matrix ``m`` translated to
    (x, 0), applied to the glyph box's corners (0, descent + rise) and
    (advance, descent + rise + fontsize)."""
    a, b, c, d, e, f = m
    e, f = x * a + 0.0 * c + e, x * b + 0.0 * d + f
    adv = width(code) * 0.001 * fontsize * scaling
    lo = -200 * 0.001 * fontsize + rise
    p0x, p0y = a * 0 + c * lo + e, b * 0 + d * lo + f
    p1x, p1y = a * adv + c * (lo + fontsize) + e, b * adv + d * (lo + fontsize) + f
    x0, x1 = (p0x, p1x) if p0x <= p1x else (p1x, p0x)
    y0, y1 = (p0y, p1y) if p0y <= p1y else (p1y, p0y)
    upright = 0 < a * d * scaling and b * c <= 0
    return [y1 - y0 if upright else x1 - x0, adv, float(upright), x0, x1,
            y0, y1, page_h - y1, page_h - y0, 0.0 + (page_h - y1), x1 - x0,
            y1 - y0]


def render(lines, fontsize):
    """(content stream, expected block rows) for ``lines``: each line is
    (x, y, Tc, Tw, Tz, Ts, calls), a new text line at (x, y) in the text
    matrix, and each call a list of TJ items (str or number) shown by one
    text-showing operator, so each line is one text chain.

    Each glyph's x follows pdfminer's render_string: x starts at 0 on a
    line; per call needcharspace starts False; a number subtracts
    number * 0.001 * fontsize * scaling; a glyph first adds the charspace
    if needcharspace, sits at x, then adds width * 0.001 * fontsize *
    scaling and, for a space, the wordspace."""
    ops = ["BT /F1 %r Tf" % fontsize]
    rows = []
    for (lx, ly, tc, tw, tz, ts, calls) in lines:
        ops.append("1 0 0 1 %r %r Tm %r Tc %r Tw %r Tz %r Ts"
                   % (lx, ly, tc, tw, tz, ts))
        scaling = tz * 0.01
        charspace, wordspace = tc * scaling, tw * scaling
        x = 0.0
        for items in calls:
            ops.append("[%s] TJ" % " ".join(
                pdf_string(it) if isinstance(it, str) else repr(it)
                for it in items))
            needcharspace = False
            for it in items:
                if not isinstance(it, str):
                    x -= it * (0.001 * fontsize * scaling)
                    needcharspace = True
                    continue
                for ch in it.encode("latin-1"):
                    if needcharspace:
                        x += charspace
                    rows.append(glyph_row((1, 0, 0, 1, lx, ly), x, ch,
                                          fontsize, scaling, ts))
                    x += width(ch) * 0.001 * fontsize * scaling
                    if ch == 32 and wordspace:
                        x += wordspace
                    needcharspace = True
    ops.append("ET")
    return "\n".join(ops).encode("latin-1"), rows


LINES = [
    (72, 700, 0.37, 1.31, 100.0, 0.0,
     [["Hello world, ", -120.5, "again", 33, -7, " x y"], ["tail text"]]),
    (72, 680, -0.25, 2.5, 90.0, 2.0, [[5, "kerned first", 0.25], ["next call"]]),
    (80.5, 660, 0.1, 0.0, 137.5, -1.5, [["a b  c", -1000, "d"]]),
    (72, 640, 0.0, 0.0, 100.0, 0.0, [["plain text, no state"]]),
    # consecutive kerns whose sum depends on the order they are added in,
    # on a line at x = 0 so no offset rounds that last bit away
    (0, 620, 0.0, 0.0, 100.0, 0.0, [["xyz", 368.045, 241, -341, "w"]]),
]


def test_text_state_block_matches_per_glyph_pdfminer_order():
    content, rows = render(LINES, 11.0)
    data = one_page_pdf(content)
    plain = parse_pdf(data, style=False)[0]
    styled = parse_pdf(data, style=True)[0]
    assert plain.ch_num.tobytes() == styled.ch_num.tobytes()
    assert plain.ch_num.tolist() == rows
    assert "".join(plain.ch_text) == "".join(
        it for line in LINES for call in line[6] for it in call
        if isinstance(it, str))


def test_quote_operators_set_state_and_start_a_line():
    """' moves to the next line (T*) and shows a string; " also sets the
    wordspace and charspace. Both start a new text chain at x = 0."""
    content = (b"BT /F1 10 Tf 1 0 0 1 50 700 Tm 12 TL 0.5 Tc 80 Tz 3 Ts "
               b"(one two) Tj (a b) ' 2 0.75 (c d e) \" ET")
    plain = parse_pdf(one_page_pdf(content), style=False)[0]
    styled = parse_pdf(one_page_pdf(content), style=True)[0]
    assert plain.ch_num.tobytes() == styled.ch_num.tobytes()

    def line(text, tc, tw):
        scaling = 80 * 0.01
        x, out = 0.0, []
        for i, ch in enumerate(text.encode()):
            if i:
                x += tc * scaling
            out.append(x + 50)
            x += width(ch) * 0.001 * 10 * scaling
            if ch == 32 and tw:
                x += tw * scaling
        return out

    assert plain.ch_num[:, 3].tolist() == (
        line("one two", 0.5, 0) + line("a b", 0.5, 0) + line("c d e", 0.75, 2))
    # the line matrix steps down by the leading; the rise lifts every box
    # from descent (-200 / 1000 em) + rise above the baseline
    rise = -200 * 0.001 * 10 + 3
    assert np.unique(plain.ch_num[:, 5]).tolist() == [
        rise + f for f in (676, 688, 700)]


def test_long_and_short_chains_in_separate_blocks():
    """One 800-glyph line among 300 one-glyph lines: the chains' sums are
    built in several blocks and every glyph still gets its own chain's
    sequential x."""
    lines = [(72, 700, 0.3, 0.9, 100.0, 0.0, [["ab cd efg " * 80]])]
    lines += [(10 + i % 50, 10 + i, 0.3, 0.0, 100.0, 0.0, [["z"]])
              for i in range(300)]
    content, rows = render(lines, 7.0)
    it = parse_pdf(one_page_pdf(content), style=False)[0]
    assert it.n_chars == 1100
    assert it.ch_num.tolist() == rows


def test_long_kern_run_takes_memory_linear_in_the_stream():
    """A TJ of thousands of numbers before thousands of glyphs: each kern
    is one term of its chain, so the parse's peak memory grows with the
    stream, not with glyphs x consecutive kerns (gigabytes at 20,000 of
    each). The smaller size runs first, so a quadratic layout fails there
    at about 100 MB."""
    for n in (2_000, 20_000):
        line = (0, 700, 0.1, 0.0, 100.0, 0.0, [[*([1, -2] * (n // 2)), "a" * n]])
        content, rows = render([line], 10.0)
        data = one_page_pdf(content)
        tracemalloc.start()
        try:
            it = parse_pdf(data, style=False)[0]
            it.ch_num  # read inside the trace, wherever the block is built
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < 400 * len(content), (n, peak)
        assert it.ch_num.tolist() == rows


@pytest.mark.parametrize("tm", ["0 1 -1 0 300 100", "-1 0 0 -1 500 700",
                                "2 0.5 -0.25 1.5 40 60", "1 0 0 -1 72 700"])
def test_rotated_and_skewed_matrices_match_across_style_modes(tm):
    content = ("BT /F1 9 Tf %s Tm 0.2 Tc 1.5 Tw 110 Tz "
               "[(rotated text) -50 (here)] TJ ( and more) Tj ET" % tm).encode()
    data = one_page_pdf(content)
    plain = parse_pdf(data, style=False)[0]
    styled = parse_pdf(data, style=True)[0]
    assert plain.n_chars == 25
    assert plain.ch_num.tobytes() == styled.ch_num.tobytes()
    # the style matrix is the text matrix translated to each glyph's x,
    # and the box's descent corner is that matrix applied to (0, descent)
    a, b, c, d = (float(v) for v in tm.split()[:4])
    descent = -200 * 0.001 * 9
    for st, (x0, x1, y0, y1) in zip(styled.ch_style, styled.ch_num[:, 3:7]):
        m = st[0]
        assert m[:4] == [a, b, c, d]
        assert (a * 0 + c * descent) + m[4] in (x0, x1)
        assert (b * 0 + d * descent) + m[5] in (y0, y1)


BIG = b"1" + b"0" * 400  # an integer no float holds


@pytest.mark.parametrize("bad", [
    b"[" + BIG + b" (xy)] TJ",  # a kern, before any glyph of the TJ
    BIG + b" 0 Td",
    b"1 0 0 1 " + BIG + b" 0 Tm",
    b"/F1 " + BIG + b" Tf",
], ids=["TJ-kern", "Td", "Tm", "Tf"])
def test_operand_too_large_for_a_float_drops_only_its_operator(bad):
    """An operand no float holds makes its operator malformed like any
    other: the operator is dropped and the page keeps every other char, as
    if the operator were not there (the whole document failed with
    OverflowError before)."""
    def page(op):
        return one_page_pdf(b"BT /F1 12 Tf 72 700 Td (ab) Tj %s (cd) Tj ET" % op)

    (it,) = parse_pdf(page(bad))
    (want,) = parse_pdf(page(b""))
    assert it.ch_text == list("abcd")
    assert it.ch_num.tobytes() == want.ch_num.tobytes()


TYPE1 = (b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica/FirstChar 97"
         b"/Widths[%s]/FontDescriptor<<%s>>>>")
TYPE3 = (b"<</Type/Font/Subtype/Type3/FirstChar 97/Widths[500 600]"
         b"/FontBBox[0 %s 1000 1000]/FontMatrix[%s 0 0 0.001 0 0]>>")
TYPE0 = (b"<</Type/Font/Subtype/Type0/BaseFont/X/Encoding/Identity-H"
         b"/DescendantFonts[<</Type/Font/Subtype/CIDFontType2/BaseFont/X"
         b"%s/W[%s]>>]>>")


@pytest.mark.parametrize("font,missing,text", [
    (TYPE1 % (BIG + b" 500", b"/Descent -200"),
     TYPE1 % (b"null 500", b"/Descent -200"), b"(ab)"),
    (TYPE1 % (b"500 600", b"/Descent " + BIG),
     TYPE1 % (b"500 600", b""), b"(ab)"),
    (TYPE1 % (b"500 600", b"/Ascent " + BIG),
     TYPE1 % (b"500 600", b""), b"(ab)"),
    (TYPE1 % (b"500", b"/MissingWidth " + BIG),  # b has no /Widths entry
     TYPE1 % (b"500", b""), b"(ab)"),
    (TYPE3 % (b"-200", BIG), TYPE3 % (b"-200", b"null"), b"(ab)"),
    (TYPE3 % (BIG, b"0.001"), TYPE3 % (b"null", b"0.001"), b"(ab)"),
    (TYPE0 % (b"/DW " + BIG, b"97[500]"), TYPE0 % (b"", b"97[500]"),
     b"<00610062>"),
    (TYPE0 % (b"", b"97[" + BIG + b" 600]"), TYPE0 % (b"", b"98[600]"),
     b"<00610062>"),
    (TYPE0 % (b"", b"97 98 " + BIG), TYPE0 % (b"", b""), b"<00610062>"),
], ids=["Widths", "Descent", "Ascent", "MissingWidth", "FontMatrix",
        "FontBBox", "DW", "W-list", "W-range"])
def test_font_value_too_large_for_a_float_reads_as_missing(font, missing, text):
    """A font width, metric or matrix value no float holds reads as if it
    were missing (a /Widths or /FontMatrix entry as null, a /W width as
    no entry, any other key as absent), where the whole document failed
    with OverflowError before."""
    def chars(f):
        (it,) = parse_pdf(one_page_pdf(b"BT /F1 12 Tf 72 700 Td %s Tj ET" % text, f))
        return it

    it, want = chars(font), chars(missing)
    assert it.n_chars == want.n_chars == 2
    assert it.ch_text == want.ch_text
    assert it.ch_num.tobytes() == want.ch_num.tobytes()
