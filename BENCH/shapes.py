"""The ``shapes`` corpus: one-page PDFs whose content streams are written by
hand in the shapes real producers use, not ``kernel.pdfgen``'s single
``BT Tf Tm Tj ET`` text object.

    from shapes import shapes_rows   # with BENCH/ on sys.path
    rows = shapes_rows(n_docs=200, seed=11)  # [{"url", "html"}, ...]

Each page sets its body text in one producer style, chosen per document:

- ``tj_kern``: one ``TJ`` per line, kerned between word pieces, lines moved
  by ``TL`` and ``T*``;
- ``tj_words``: one ``Tj`` per word, each placed with ``Td``;
- ``text_state``: ``Tc``/``Tw``/``Tz``/``Ts`` changes, lines shown with
  ``'`` and ``"``;
- ``runs``: several runs per ``BT`` under font, size, colour and ``Tm``
  changes;
- ``strings``: hex strings and escaped strings (octal, ``\\(``, ``\\)``,
  ``\\\\``, line continuations), and a CID (Type0, Identity-H) body font
  shown in two-byte hex;
- ``marked``: each line in ``BDC`` with an inline ``/MCID`` dict, or
  ``BMC``, closed by ``EMC``.

and adds, at random, inline images (``BI … ID … EI``), ``q``/``Q`` nesting
with ``cm`` around text, and a block of dense paths (``m``/``l``/``c``/
``v``/``y``/``re``/``h`` painted by ``S``/``f``/``B``/``n`` under ``w``,
``d``, ``rg``/``RG``/``k``/``g``). The files go through
``kernel.pdfwrite.write_pdf``; the corpus is a function of ``n_docs`` and
``seed`` alone.
"""

import random

from pdfplumber_spark.kernel.pdfparse import Ref
from pdfplumber_spark.kernel.pdfwrite import write_pdf

STYLES = ("tj_kern", "tj_words", "text_state", "runs", "strings", "marked")

WORDS = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "theta",
         "kappa", "lambda", "sigma", "omega", "ledger", "invoice", "total",
         "quarterly", "report", "(draft)", "back\\slash", "naïve", "a-b",
         "2024", "12.50", "x", "of", "the", "and", "to", "in")

# simple-font widths (1/1000 em), FirstChar 32: space 278, the rest by code
WIDTHS = [278] + [450 + 37 * (c % 9) for c in range(33, 256)]
SIMPLE_FONT = (b"<</Type/Font/Subtype/Type1/BaseFont/%s/FirstChar 32"
               b"/Encoding/WinAnsiEncoding/Widths["
               + b" ".join(b"%d" % w for w in WIDTHS)
               + b"]/FontDescriptor<</Descent -210/MissingWidth 500>>>>")
# two-byte CIDs 0x0100 + code, a ToUnicode bfrange back to the code
TO_UNICODE = (b"/CIDInit/ProcSet findresource begin 12 dict begin begincmap"
              b" 1 begincodespacerange <0000> <FFFF> endcodespacerange"
              b" 1 beginbfrange <0120> <017E> <0020> endbfrange"
              b" endcmap CMapName currentdict/CMap defineresource pop end end")


def pdf_string(s: bytes) -> bytes:
    """``s`` as a literal string with escapes."""
    return b"(" + s.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(
        b")", b"\\)") + b")"


def escaped_string(s: bytes, rng: random.Random) -> bytes:
    """``s`` as a literal string with octal escapes and a continuation."""
    out = bytearray(b"(")
    for i, c in enumerate(s):
        if c in b"()\\" or rng.random() < 0.2:
            out += b"\\%03o" % c
        else:
            out.append(c)
        if i == len(s) // 2 and rng.random() < 0.3:
            out += b"\\\n"
    return bytes(out + b")")


def cid_hex(s: bytes) -> bytes:
    return b"<" + b"".join(b"%04X" % (0x100 + c) for c in s) + b">"


def text_width(s: bytes, size: float) -> float:
    """The advance of ``s`` in a simple font at ``size``."""
    return sum(WIDTHS[c - 32] for c in s) * size / 1000


def line_words(rng: random.Random, n: int) -> list:
    return [rng.choice(WORDS).encode("latin-1") for _ in range(n)]


def body_text(style: str, rng: random.Random, top: float, n_lines: int) -> bytes:
    """The body text of one page, ``n_lines`` lines from ``top`` down."""
    size = rng.choice((9, 10, 11.5))
    lead = size * 1.3
    out = []
    if style == "tj_kern":
        out.append(b"BT /F1 %g Tf %g TL 1 0 0 1 72 %g Tm" % (size, lead, top))
        for _ in range(n_lines):
            items = []
            for w in line_words(rng, rng.randint(5, 10)):
                cut = rng.randint(1, max(1, len(w) - 1))
                items.append(pdf_string(w[:cut]) + b"%d" % rng.randint(-40, 40)
                             + pdf_string(w[cut:] + b" "))
                items.append(b"%d" % rng.choice((-250, -120, 15)))
            out.append(b"[" + b"".join(items) + b"]TJ T*")
        out.append(b"ET")
    elif style == "tj_words":
        out.append(b"BT /F1 %g Tf 72 %g Td" % (size, top))
        for _ in range(n_lines):
            x = 0.0
            for w in line_words(rng, rng.randint(5, 10)):
                out.append(pdf_string(w) + b" Tj")
                step = round(text_width(w, size) + size * 0.6, 2)
                out.append(b"%g 0 Td" % step)
                x += step
            out.append(b"%g %g Td" % (-round(x, 2), -lead))
        out.append(b"ET")
    elif style == "text_state":
        out.append(b"BT /F1 %g Tf %g TL 72 %g Td" % (size, lead, top))
        for i in range(n_lines):
            text = b" ".join(line_words(rng, rng.randint(5, 10)))
            out.append(b"%g Tc %g Tw %d Tz %g Ts" % (
                rng.choice((0, 0.25, -0.1)), rng.choice((0, 1.5, 3)),
                rng.choice((100, 90, 110)), rng.choice((0, 0, 2.5))))
            if i % 3 == 0:
                out.append(b"%g %g %s \"" % (rng.choice((0, 2)),
                                             rng.choice((0, 0.5)),
                                             pdf_string(text)))
            elif i % 3 == 1:
                out.append(pdf_string(text) + b" '")
            else:
                out.append(b"T* " + pdf_string(text) + b" Tj")
        out.append(b"ET")
    elif style == "runs":
        y = top
        for _ in range(0, n_lines, 3):
            out.append(b"BT")
            for j in range(3):
                x = 72.0
                for w in line_words(rng, rng.randint(3, 6)):
                    font = rng.choice((b"F1", b"F2"))
                    fsize = rng.choice((size, size + 2))
                    out.append(b"/%s %g Tf %g %g %g rg 1 0 0 1 %g %g Tm %s Tj"
                               % (font, fsize, rng.random(), 0.2, 0.4, x, y,
                                  pdf_string(w + b" ")))
                    x += round(text_width(w + b" ", fsize), 2)
                y -= lead
            out.append(b"ET")
    elif style == "strings":
        out.append(b"BT %g TL 72 %g Td" % (lead, top))
        for i in range(n_lines):
            ws = line_words(rng, rng.randint(5, 10))
            if i % 3 == 0:
                out.append(b"/F1 %g Tf <%s> Tj T*"
                           % (size, b" ".join(b"%02x" % c for c in b" ".join(ws))))
            elif i % 3 == 1:
                out.append(b"/F1 %g Tf %s Tj T*"
                           % (size, escaped_string(b" ".join(ws), rng)))
            else:
                out.append(b"/F3 %g Tf [%s] TJ T*" % (size, b" -60 ".join(
                    cid_hex(w + b" ") for w in ws)))
        out.append(b"ET")
    else:  # marked
        out.append(b"BT /F1 %g Tf %g TL 72 %g Td" % (size, lead, top))
        for i in range(n_lines):
            text = pdf_string(b" ".join(line_words(rng, rng.randint(5, 10))))
            if i % 4 == 3:
                out.append(b"/Artifact BMC %s Tj T* EMC" % text)
            else:
                out.append(b"/P <</MCID %d>>BDC %s Tj T* EMC" % (i, text))
        out.append(b"ET")
    return b"\n".join(out)


def inline_image(rng: random.Random) -> bytes:
    w, h = rng.randint(2, 6), rng.randint(1, 4)
    cs, ch = rng.choice(((b"/G", 1), (b"/RGB", 3)))
    data = bytes(rng.randrange(256) for _ in range(w * h * ch))
    return (b"q %d 0 0 %d %g %g cm BI /W %d /H %d /BPC 8 /CS %s ID %s EI Q"
            % (w * 10, h * 10, rng.uniform(72, 500), rng.uniform(40, 700),
               w, h, cs, data))


def nested_text(rng: random.Random) -> bytes:
    """Text under two levels of ``q``/``Q`` with ``cm`` at each."""
    return (b"q 1 0 0 1 %g %g cm q 0.9 0.1 -0.1 0.9 0 0 cm BT /F2 8 Tf 0 0 Td"
            b" %s Tj ET Q BT /F1 7 Tf 0 -12 Td %s Tj ET Q"
            % (rng.uniform(60, 400), rng.uniform(60, 200),
               pdf_string(b" ".join(line_words(rng, 4))),
               pdf_string(b" ".join(line_words(rng, 3)))))


def dense_paths(rng: random.Random, n: int) -> bytes:
    out = [b"q %g w [%d %d] 0 d" % (rng.choice((0.5, 1, 2)), rng.randint(1, 4),
                                    rng.randint(1, 4))]
    for i in range(n):
        x, y = round(rng.uniform(40, 560), 2), round(rng.uniform(40, 300), 2)
        k = i % 6
        if k == 0:
            out.append(b"%g %g %g %g re" % (x, y, rng.randint(5, 60), rng.randint(5, 30)))
        elif k == 1:
            out.append(b"%g %g m %g %g l" % (x, y, x + 40, y))
        elif k == 2:
            out.append(b"%g %g m %g %g %g %g %g %g c h"
                       % (x, y, x + 10, y + 20, x + 30, y - 20, x + 40, y))
        elif k == 3:
            out.append(b"%g %g m %g %g %g %g v %g %g %g %g y"
                       % (x, y, x + 5, y + 5, x + 10, y, x + 15, y - 5, x + 20, y))
        elif k == 4:
            out.append(b"%g %g %g rg %g %g %g RG %g %g m %g %g l %g %g l h"
                       % (rng.random(), 0.5, 0.5, 0.1, rng.random(), 0.2,
                          x, y, x + 30, y + 10, x + 15, y + 25))
        else:
            out.append(b"%g g 0 0 0 1 K %g %g m %g %g l" % (rng.random(), x, y,
                                                            x, y + 30))
        out.append(rng.choice((b"S", b"f", b"B", b"n", b"f*", b"b")))
    out.append(b"Q")
    return b"\n".join(out)


def one_page(content: bytes) -> bytes:
    """A 612x792 page showing ``content`` with /F1, /F2 (simple) and /F3
    (Type0) fonts."""
    objs = []

    def obj(b):
        objs.append(b)
        return len(objs)

    cn = obj(b"<</Length %d>>\nstream\n%s\nendstream" % (len(content), content))
    f1 = obj(SIMPLE_FONT % b"Helvetica")
    f2 = obj(SIMPLE_FONT % b"Times-Roman")
    tu = obj(b"<</Length %d>>\nstream\n%s\nendstream" % (len(TO_UNICODE), TO_UNICODE))
    cid = obj(b"<</Type/Font/Subtype/CIDFontType2/BaseFont/BodyCID"
              b"/CIDSystemInfo<</Registry(Adobe)/Ordering(Identity)/Supplement 0>>"
              b"/DW 600/W[288[300 420 480]320 382 520]"
              b"/FontDescriptor<</Descent -220>>>>")
    f3 = obj(b"<</Type/Font/Subtype/Type0/BaseFont/BodyCID/Encoding/Identity-H"
             b"/DescendantFonts[%d 0 R]/ToUnicode %d 0 R>>" % (cid, tu))
    page = obj(b"<</Type/Page/Parent %d 0 R/MediaBox[0 0 612 792]"
               b"/Resources<</Font<</F1 %d 0 R/F2 %d 0 R/F3 %d 0 R>>>>"
               b"/Contents %d 0 R>>" % (len(objs) + 2, f1, f2, f3, cn))
    pages = obj(b"<</Type/Pages/Kids[%d 0 R]/Count 1>>" % page)
    cat = obj(b"<</Type/Catalog/Pages %d 0 R>>" % pages)
    return write_pdf(b"%PDF-1.4\n", dict(enumerate(objs, 1)),
                     {"Root": Ref(cat, 0)})


def shapes_rows(n_docs: int = 200, seed: int = 11) -> list:
    rng = random.Random(seed)
    rows = []
    for d in range(n_docs):
        style = STYLES[d % len(STYLES)]
        parts = [body_text(style, rng, 740.0, rng.randint(12, 40))]
        if rng.random() < 0.4:
            parts.append(inline_image(rng))
        if rng.random() < 0.5:
            parts.append(nested_text(rng))
        if rng.random() < 0.5:
            parts.append(dense_paths(rng, rng.randint(20, 120)))
        rows.append({"url": f"shapes/{style}/{d}", "html": one_page(b"\n".join(parts))})
    return rows
