"""Differential check of two checkouts' PDF parsers on seeded random input.

    python3 BENCH/parse_diff.py CHECKOUT_A CHECKOUT_B [--pages 2000]
                                [--lexer 10000] [--seed 1] [--show 5]

Two kinds of input, both a function of ``--seed`` alone and written by this
script (no code of either checkout makes them):

- lexer inputs: random byte strings of PDF object and content syntax
  (numbers in every spelling, ints longer than ``int()`` parses, names
  with ``#xx``, plain, nested, escaped and unbalanced strings, hex
  strings, dicts, arrays, refs, keywords, comments, NULs, stray
  delimiters, inline images). Each goes through
  ``parse_object`` until it stops advancing, through ``Lexer.next_token``
  to the end, and through the content scanner (``content_ops``, or an
  older checkout's ``tokenize_content``) as one token list;
- text-operator pages: one-page PDFs whose content stream is a random
  sequence of ``Tc``/``Tw``/``Tz``/``Ts``/``TL``/``Td``/``TD``/``Tm``/
  ``T*``/``Tj``/``TJ``/``'``/``"``, ``cm`` and ``q``/``Q`` inside ``BT``,
  Form XObjects (``Do``, with and without their own resources and
  matrix), marked content (``BDC`` with an inline dict or a
  ``/Properties`` name, ``BMC``, ``EMC``), paths, colours, inline images
  and the odd malformed operand (ints no float holds, also beside reals
  that read as inf). Each page is parsed with ``style`` False and True, and
  its parser buffers are compared: ``ch_text``,
  ``ch_font``, ``ch_cid``, ``mc_spans``, the bytes of ``ch_num``,
  ``ch_style``, the line/rect/curve rows, the image rows and the kind
  order.

Each checkout runs in a fresh process that imports ``pdfplumber_spark`` from
it; every input's outcome (value or exception type) is hashed there. Prints
the number of inputs whose outcomes differ, per kind, with the first few
differing inputs, and exits 1 if any differ.
"""

import argparse
import hashlib
import os
import pickle
import random
import subprocess
import sys
import tempfile

# --- lexer inputs ------------------------------------------------------------

NUMBERS = (b"0", b"1", b"-1", b"+3", b"5.", b"-.5", b".5", b"1.2.3", b"12.50",
           b"1e3", b"-2E-1", b"007", b".", b"-", b"+", b"1-2", b"3.4.", b"99999",
           b"1" + b"0" * 320, b"-" + b"9" * 330, b"0.000001", b"612", b"792",
           b"1" + b"0" * 400 + b".", b"9" * 4400)
# a real no float holds (it reads as inf) and an int no float holds
INF, BIG = b"1" + b"0" * 400 + b".", b"1" + b"0" * 400
NAMES = (b"/F1", b"/Type", b"/A#20B", b"/#41", b"/", b"/MCID", b"/Length",
         b"/Span", b"/P", b"/R", b"/ActualText", b"/W", b"/BBox")
KEYWORDS = (b"R", b"obj", b"endobj", b"true", b"false", b"null", b"Tj", b"TJ",
            b"Td", b"BDC", b"EMC", b"q", b"Q", b"cm", b"stream", b"ID", b"EI",
            b"BI", b"'", b'"', b"T*", b"re", b"d")
WS = (b" ", b"\n", b"\r\n", b"\t", b"\x00", b"\x0c", b"", b"  ", b"\x0b")


def rand_string(rng: random.Random) -> bytes:
    k = rng.randrange(7)
    if k == 0:
        return b"(" + bytes(rng.choice(b"abc xyz") for _ in range(rng.randrange(6))) + b")"
    if k == 1:
        return b"(a(b)c)"
    if k == 2:
        return rng.choice((b"(a\\)b)", b"(\\101\\60x)", b"(\\n\\r\\t\\b\\f\\\\)",
                           b"(line\\\ncont)", b"(\\q)", b"(a\\", b"(())", b"()"))
    if k == 3:
        return b"<" + bytes(rng.choice(b"0123456789abcdefABCDEF \n")
                            for _ in range(rng.randrange(9))) + b">"
    if k == 4:
        return rng.choice((b"<41", b"<4g1>", b"<>", b"(unbalanced", b")"))
    if k == 5:
        return b"(" + bytes(rng.randrange(256) for _ in range(rng.randrange(5))) + b")"
    return b"()"


def rand_object(rng: random.Random, depth: int = 0) -> bytes:
    k = rng.randrange(12 if depth < 3 else 8)
    if k < 3:
        return rng.choice(NUMBERS)
    if k < 5:
        return rng.choice(NAMES)
    if k == 5:
        return rand_string(rng)
    if k == 6:
        return rng.choice(KEYWORDS)
    if k == 7:
        return b"%s %d R" % (rng.choice((b"%d" % rng.randrange(20), b"9" * 4400)),
                             rng.randrange(3))
    if k in (8, 9):
        items = [rand_object(rng, depth + 1) for _ in range(rng.randrange(5))]
        return b"[" + rng.choice(WS).join(items) + rng.choice((b"]", b"]", b""))
    parts = []
    for _ in range(rng.randrange(4)):
        parts.append(rng.choice(NAMES) + rng.choice(WS) + rand_object(rng, depth + 1))
    return b"<<" + rng.choice(WS).join(parts) + rng.choice((b">>", b">>", b">", b""))


def lexer_input(rng: random.Random) -> bytes:
    parts = []
    for _ in range(rng.randrange(1, 12)):
        k = rng.randrange(20)
        if k == 0:
            parts.append(b"%" + rng.choice((b"comment", b"", b"x]>")) + rng.choice((b"\n", b"\r", b"")))
        elif k == 1:
            parts.append(rng.choice((b"]", b">", b"}", b"{", b")", b">>", b"[", b"<<")))
        elif k == 2:
            parts.append(rng.choice((
                b"BI /W 2 /H 1 /BPC 8 /CS /G ID \x01\x02 EI",
                b"BI /W 1 /H 1 /F /AHx ID 41> EI", b"BI /W /X ID EI",
                b"BI /W 2 /H 2 /BPC 1 /IM true ID \x80\x40 EI")))
        else:
            parts.append(rand_object(rng))
    return b"".join(p + rng.choice(WS) for p in parts)


# --- text-operator pages -----------------------------------------------------

def num(rng: random.Random, lo: float, hi: float) -> bytes:
    v = rng.uniform(lo, hi)
    return rng.choice((b"%d" % round(v), b"%.2f" % v, b"%g" % v))


def pstr(rng: random.Random) -> bytes:
    k = rng.randrange(8)
    if k == 0:
        return b"<" + b"".join(b"%02x" % rng.randrange(32, 127)
                               for _ in range(rng.randrange(1, 6))) + b">"
    if k == 1:
        return rng.choice((b"(a\\(b\\)c)", b"(x\\101y)", b"(n(e)st)", b"()", b"( )"))
    word = bytes(rng.choice(b"abcdefghij XYZ") for _ in range(rng.randrange(1, 9)))
    return b"(" + word + b")"


def text_op(rng: random.Random) -> bytes:
    k = rng.randrange(22)
    if k == 0:
        return b"/F%d %s Tf" % (rng.randrange(1, 4), num(rng, 4, 20))
    if k == 1:
        return num(rng, -1, 2) + b" Tc"
    if k == 2:
        return num(rng, -2, 4) + b" Tw"
    if k == 3:
        return num(rng, 50, 150) + b" Tz"
    if k == 4:
        return num(rng, -3, 3) + b" Ts"
    if k == 5:
        return num(rng, 0, 15) + b" TL"
    if k == 6:
        return b"%s %s Td" % (num(rng, -50, 50), num(rng, -20, 20))
    if k == 7:
        return b"%s %s TD" % (num(rng, -50, 50), num(rng, -20, 20))
    if k == 8:
        m = rng.choice(((b"1", b"0", b"0", b"1"), (b"0", b"1", b"-1", b"0"),
                        (b"-1", b"0", b"0", b"-1"), (num(rng, -2, 2), num(rng, -1, 1),
                                                     num(rng, -1, 1), num(rng, -2, 2))))
        return b" ".join(m) + b" %s %s Tm" % (num(rng, 0, 600), num(rng, 0, 800))
    if k == 9:
        return b"T*"
    if k in (10, 11, 12):
        return pstr(rng) + b" Tj"
    if k in (13, 14):
        items = []
        for _ in range(rng.randrange(1, 8)):
            items.append(pstr(rng) if rng.random() < 0.6 else num(rng, -300, 300))
        return b"[" + rng.choice((b" ", b"")).join(items) + b"] TJ"
    if k == 15:
        return pstr(rng) + b" '"
    if k == 16:
        return b"%s %s %s \"" % (num(rng, -1, 3), num(rng, -1, 1), pstr(rng))
    if k == 17:
        return b"q %s 0 0 %s %s %s cm" % (num(rng, 0.5, 2), num(rng, 0.5, 2),
                                           num(rng, -20, 20), num(rng, -20, 20))
    if k == 18:
        return b"Q"
    if k == 19:
        return rng.choice((b"/P <</MCID %d>> BDC" % rng.randrange(9),
                           b"/Span <</ActualText (x)>>BDC", b"/Artifact BMC",
                           b"/P /MC0 BDC", b"EMC"))
    if k == 20:
        return rng.choice((b"/Fm1 Do", b"/Fm2 Do", b"/Im1 Do"))
    return rng.choice((b"Tj", b"1 Td", b"(x) 5 Tj", b"/F9 9 Tf", b"Tf",
                       b"1 2 3 4 5 Tm", b"TJ", b"[(a) Tj] TJ", b"xyz",
                       b"1" + b"0" * 320 + b" Tc", b"3 " + b"9" * 330 + b" Td",
                       b"[(a) 1" + b"0" * 320 + b" (b)] TJ",
                       b"1 0 0 1 %s %s Tm" % tuple(rng.sample((INF, BIG), 2)),
                       b"%s %s 0 rg" % tuple(rng.sample((INF, BIG), 2))))


def path_op(rng: random.Random) -> bytes:
    x, y = num(rng, 0, 600), num(rng, 0, 800)
    return rng.choice((
        b"%s %s m %s %s l S" % (x, y, num(rng, 0, 600), y),
        b"%s %s %s %s re f" % (x, y, num(rng, 1, 90), num(rng, 1, 40)),
        b"%s %s m %s %s %s %s %s %s c h B" % (x, y, x, y, x, y, x, y),
        b"%s %s m %s %s %s %s v %s %s %s %s y n" % (x, y, x, y, x, y, x, y, x, y),
        b"%s g %s G 0 1 0 rg 1 0 0 RG 0 0 0 1 k" % (num(rng, 0, 1), num(rng, 0, 1)),
        b"/CS0 cs 0.5 sc /Pattern cs /P0 scn [%d 2] 0 d %s w" % (rng.randrange(5), num(rng, 0, 3)),
        b"q 10 0 0 10 %s %s cm BI /W 2 /H 1 /BPC 8 /CS /G ID \x05\x06 EI Q" % (x, y),
    ))


FORM = (b"<</Type/XObject/Subtype/Form/BBox[0 0 100 100]%s/Length %d>>\n"
        b"stream\n%s\nendstream")


def text_page(rng: random.Random) -> bytes:
    """A one-page PDF of a random text-operator stream, written here."""
    ops = []
    for _ in range(rng.randrange(3, 40)):
        r = rng.random()
        if r < 0.15:
            ops.append(path_op(rng))
        else:
            ops.append(b"BT " + b" ".join(text_op(rng) for _ in range(rng.randrange(1, 9)))
                       + rng.choice((b" ET", b" ET", b"")))
    content = b"\n".join(ops)
    form1 = b"BT /F1 9 Tf 2 3 Td (form) Tj [(k)-50(ern)] TJ ET 0 0 5 5 re S"
    form2 = b"q 2 0 0 2 0 0 cm BT /F2 7 Tf (inner) Tj ET Q /P <</MCID 7>> BDC BT /F1 8 Tf (m) Tj ET EMC"
    widths = b" ".join(b"%d" % (300 + 17 * (c % 11)) for c in range(32, 127))
    objs = [
        b"<</Type/Catalog/Pages 2 0 R>>",
        b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
        b"<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]/Resources 4 0 R/Contents 5 0 R>>",
        b"<</Font<</F1 6 0 R/F2 7 0 R/F3 8 0 R>>/XObject<</Fm1 9 0 R/Fm2 10 0 R>>"
        b"/Properties<</MC0<</MCID 42>>>>/ColorSpace<</CS0[/ICCBased 11 0 R]>>>>",
        b"<</Length %d>>\nstream\n%s\nendstream" % (len(content), content),
        b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica/FirstChar 32/Widths[%s]"
        b"/FontDescriptor<</Descent -207>>>>" % widths,
        b"<</Type/Font/Subtype/Type1/BaseFont/Times-Roman/Encoding<</Differences[65/B/A]>>>>",
        b"<</Type/Font/Subtype/Type0/BaseFont/CIDX/Encoding/Identity-H/DescendantFonts"
        b"[<</Subtype/CIDFontType2/DW 700/W[65[500 600]97 99 450]>>]>>",
        FORM % (b"", len(form1), form1),
        FORM % (b"/Matrix[1 0 0 1 50 60]/Resources 4 0 R", len(form2), form2),
        b"<</N 1/Length 0>>\nstream\n\nendstream",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<</Size %d/Root 1 0 R>>\nstartxref\n%d\n%%%%EOF\n" % (len(objs) + 1, xref)
    return bytes(out)


# --- one checkout's outcomes -------------------------------------------------

def typed(v, depth=0):
    """``v`` with its types spelled out, for hashing."""
    from pdfplumber_spark.kernel import pdfparse as P

    if depth > 50:
        return "deep"
    if isinstance(v, P.Ref):
        return ("R", v.num, v.gen)
    if isinstance(v, P.StreamObj):
        return ("S", typed(v.attrs, depth + 1), bytes(v.raw))
    if isinstance(v, dict):
        return ("d", [(typed(k, depth + 1), typed(x, depth + 1)) for k, x in v.items()])
    if isinstance(v, (list, tuple)):
        return (type(v).__name__, [typed(x, depth + 1) for x in v])
    return (type(v).__name__, repr(v))


def outcome(fn) -> str:
    try:
        v = fn()
    except Exception as e:  # noqa: BLE001 - an exception is an outcome
        v = ("raised", type(e).__name__)
    return hashlib.sha256(repr(v).encode()).hexdigest()[:16]


def content_tokens(P, data: bytes, limit: int = 2000) -> list:
    """The content scanner's tokens, an operator as ("kw", op)."""
    if hasattr(P, "content_ops"):
        stack, out = [], []
        for i, op in enumerate(P.content_ops(data, stack)):
            if i >= limit:
                break
            out += stack
            stack.clear()
            out.append(("kw", op.decode("latin-1")))
        return [typed(t) for t in out + stack]
    out = []
    for i, tok in enumerate(P.tokenize_content(data)):
        if i >= limit:
            break
        if isinstance(tok, tuple) and tok[0] == "iiop":  # an inline image
            out += [P.StreamObj(tok[2], tok[3]), ("kw", "BI")]
        elif isinstance(tok, tuple) and tok[0] == "kw":
            out.append(tok)
        else:
            out.append(tok)
    return [typed(t) for t in out]


def lexer_outcomes(P, data: bytes) -> tuple:
    def objects():
        lex, out = P.Lexer(data), []
        for _ in range(500):
            pos = lex.pos
            v = P.parse_object(lex)
            out.append((typed(v), lex.pos))
            if lex.pos == pos:
                break
        return out

    def tokens():
        lex, out = P.Lexer(data), []
        for _ in range(2000):
            t = lex.next_token()
            out.append((typed(t), lex.pos))
            if t is None:
                break
        return out

    return (outcome(objects), outcome(tokens),
            outcome(lambda: content_tokens(P, data)))


def page_outcomes(P, data: bytes) -> tuple:
    def buffers(style):
        return [(it.ch_text, it.ch_font, it.ch_cid, it.mc_spans,
                 it.ch_num.tobytes(), it.ch_style, it.lines, it.rects, it.curves,
                 [row[:-1] for row in it.images], it.kind_order)
                for it in P.parse_pdf(data, style=style)]

    return (outcome(lambda: buffers(False)), outcome(lambda: buffers(True)))


def child(checkout: str, inputs: str) -> None:
    sys.path.insert(0, checkout)
    from pdfplumber_spark.kernel import pdfparse as P

    with open(inputs, "rb") as f:
        lex_inputs, pages = pickle.load(f)
    out = ([lexer_outcomes(P, d) for d in lex_inputs],
           [page_outcomes(P, d) for d in pages])
    sys.stdout.buffer.write(pickle.dumps(out))


def main() -> None:
    if sys.argv[1:2] == ["--child"]:
        child(sys.argv[2], sys.argv[3])
        return
    ap = argparse.ArgumentParser()
    ap.add_argument("checkouts", nargs=2)
    ap.add_argument("--pages", type=int, default=2000)
    ap.add_argument("--lexer", type=int, default=10000)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--show", type=int, default=5)
    args = ap.parse_args()
    rng = random.Random(args.seed)
    lex_inputs = [lexer_input(rng) for _ in range(args.lexer)]
    pages = [text_page(rng) for _ in range(args.pages)]
    tmp = tempfile.mkdtemp(prefix="parse_diff-")
    try:
        path = os.path.join(tmp, "inputs.pkl")
        with open(path, "wb") as f:
            pickle.dump((lex_inputs, pages), f)
        results = [pickle.loads(subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child",
             os.path.abspath(c), path],
            check=True, capture_output=True).stdout) for c in args.checkouts]
    finally:
        os.remove(os.path.join(tmp, "inputs.pkl"))
        os.rmdir(tmp)
    (lex_a, page_a), (lex_b, page_b) = results
    total = 0
    for name, a, b, inputs, labels in (
            ("lexer", lex_a, lex_b, lex_inputs, ("parse_object", "next_token", "content")),
            ("pages", page_a, page_b, pages, ("style=False", "style=True"))):
        for j, label in enumerate(labels):
            diff = [i for i, (x, y) in enumerate(zip(a, b)) if x[j] != y[j]]
            total += len(diff)
            print(f"{name:6s} {label:13s} {len(inputs):6d} inputs  "
                  f"{len(diff):5d} differ")
            for i in diff[:args.show]:
                print(f"    #{i}: {inputs[i][:300]!r}")
    print(f"differences: {total}")
    sys.exit(1 if total else 0)


if __name__ == "__main__":
    main()
